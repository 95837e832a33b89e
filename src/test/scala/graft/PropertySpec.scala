package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.functions.{MinHashUtil, SimHashUtil}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Property tests (SURVEY §5): tokenizer/normalizer invariants under the
  * exact reference semantics, and hash-kernel laws — pure-JVM (no Spark
  * session), exercising the same kernels the codegen expressions call.
  */
object PropertySpec extends Properties("graft") {

  private def normalize(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT).replaceAll("""[^\w]""", "")

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.const(' '),
      1 -> Gen.oneOf('.', ',', '!', '\n', '\t'))).map(_.mkString)

  property("normalize idempotent") = forAll(asciiText) { s =>
    normalize(normalize(s)) == normalize(s)
  }

  property("normalized tokens match [a-z0-9_]*") = forAll(asciiText) { s =>
    s.split(" ", -1).map(normalize).forall(_.matches("[a-z0-9_]*"))
  }

  property("token count preserved by partitioning") = forAll(asciiText) { s =>
    val toks = s.split(" ", -1).map(normalize).filter(_.nonEmpty)
    toks.groupBy(_.charAt(0).toUpper).values.map(_.length).sum == toks.length
  }

  property("fnv1a64 matches reference impl") = forAll(Gen.alphaNumStr) { s =>
    var h = 0xcbf29ce484222325L
    s.getBytes("UTF-8").foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L }
    SimHashUtil.fnv1a64(UTF8String.fromString(s)) == h
  }

  private def sig(xs: List[String]): Array[Long] = MinHashUtil.signature(
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any]))

  property("minhash: union minima dominate part minima") =
    forAll(Gen.nonEmptyListOf(Gen.identifier), Gen.nonEmptyListOf(Gen.identifier)) {
      (a, b) => sig(a ++ b).zip(sig(a)).forall { case (u, x) => u <= x }
    }

  property("minhash signature is order-invariant") =
    forAll(Gen.nonEmptyListOf(Gen.identifier)) { xs =>
      sig(xs).toSeq == sig(xs.reverse).toSeq
    }

  property("hamming: identity, symmetry, triangle") =
    forAll { (a: Long, b: Long, c: Long) =>
      SimHashUtil.hamming(a, a) == 0 &&
        SimHashUtil.hamming(a, b) == SimHashUtil.hamming(b, a) &&
        SimHashUtil.hamming(a, c) <=
          SimHashUtil.hamming(a, b) + SimHashUtil.hamming(b, c)
    }

  property("minhash values lie in [0, P)") =
    forAll(Gen.nonEmptyListOf(Gen.identifier)) { xs =>
      sig(xs).forall(v => v >= 0 && v <= MinHashUtil.P)
    }

  property("minhash equal sets ⇒ equal signatures (set semantics)") =
    forAll(Gen.nonEmptyListOf(Gen.identifier)) { xs =>
      sig(xs ++ xs).toSeq == sig(xs).toSeq
    }

  property("shingles: n tokens → ≤ max(n-2,0) distinct 3-grams") =
    forAll(Gen.listOf(Gen.identifier)) { xs =>
      val arr = new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
      val out = graft.functions.ShingleUtil.wordShingles3(arr)
      out.numElements() <= math.max(xs.length - 2, 0)
    }

  private val windowGen: Gen[Int] = Gen.choose(1, 9)

  property("wordNgrams matches naive sliding-distinct for any window") =
    forAll(Gen.listOf(Gen.identifier), windowGen) { (xs, w) =>
      val arr = new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
      val got = graft.functions.ShingleUtil.wordNgrams(arr, w)
        .toArray[AnyRef](org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      val want = xs.sliding(w).filter(_.length == w)
        .map(_.mkString(" ")).toSeq.distinct
      got == want // same grams, same first-occurrence order
    }

  property("wordNgrams(_, 3) ≡ wordShingles3 (shared kernel contract)") =
    forAll(Gen.listOf(Gen.identifier)) { xs =>
      val a1 = new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
      val a2 = new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
      graft.functions.ShingleUtil.wordNgrams(a1, 3).toSeq(
          org.apache.spark.sql.types.StringType) ==
        graft.functions.ShingleUtil.wordShingles3(a2).toSeq(
          org.apache.spark.sql.types.StringType)
    }

  // --- reluctant-quantifier algebra (round 9) ---------------------------
  // Under the module's restrictions, a reluctant mid-token whose class
  // may CONTAIN the terminator is exactly expressible as the greedy form
  // with the terminator subtracted from the class: the successor wins
  // every overlapping row, so the reluctant token never consumes a
  // terminator-class row. These laws pin the new matcher mode against
  // the long-trusted greedy path on arbitrary sequences — far beyond the
  // hand fixtures. 'a' anchors, 'c' terminates, B ⊆ {b,d,e} (+c half
  // the time); x is outside every class, exercising attempt resets.

  import graft.operators.RowPattern

  private val cepSeq: Gen[List[String]] =
    Gen.choose(0, 25).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e", "x")))

  private val cepMid: Gen[Set[String]] = for {
    base <- Gen.someOf(Seq("b", "d", "e")).suchThat(_.nonEmpty)
    withC <- Gen.oneOf(true, false)
  } yield base.toSet ++ (if (withC) Set("c") else Set.empty[String])

  private def cls(ts: Set[String]): String =
    if (ts.size == 1) ts.head else ts.toSeq.sorted.mkString("(", "|", ")")

  property("CEP: a B*? c ≡ a (B∖c)* c") = forAll(cepMid, cepSeq) { (bs, xs) =>
    RowPattern.matchSeq(s"a ${cls(bs)}*? c", xs) ==
      RowPattern.matchSeq(s"a ${cls(bs - "c")}* c", xs)
  }

  property("CEP: a B+? c ≡ a B (B∖c)* c") = forAll(cepMid, cepSeq) { (bs, xs) =>
    RowPattern.matchSeq(s"a ${cls(bs)}+? c", xs) ==
      RowPattern.matchSeq(s"a ${cls(bs)} ${cls(bs - "c")}* c", xs)
  }

  property("CEP: a B?? c ≡ a (B∖c)? c") = forAll(cepMid, cepSeq) { (bs, xs) =>
    RowPattern.matchSeq(s"a ${cls(bs)}?? c", xs) ==
      RowPattern.matchSeq(s"a ${cls(bs - "c")}? c", xs)
  }

  property("CEP: reluctant ≡ greedy when the class avoids the terminator") =
    forAll(cepMid.map(_ - "c"), cepSeq) { (bs, xs) =>
      RowPattern.matchSeq(s"a ${cls(bs)}*? c", xs) ==
        RowPattern.matchSeq(s"a ${cls(bs)}* c", xs)
    }
}
