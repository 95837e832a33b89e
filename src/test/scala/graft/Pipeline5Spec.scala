package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Pipeline5, Relational6}
import graft.streaming.StreamingQueries

class Pipeline5Spec extends AnyFunSuite with SparkTestBase {

  test("bpe: merge rewrite is exact greedy merge, including adjacent repeats") {
    import spark.implicits._
    // 'a b a b a b' is the classic overlap trap: a single-space replace
    // consumes the shared delimiter and merges only alternate pairs
    val in = Seq("a b a b a b", "a a a", "x a b y", "q", "a b")
      .toDF("sym")
    val out = in.select(Pipeline5.mergeStep(col("sym"), "a b").as("m"))
      .collect().map(_.getString(0)).toSeq
    assert(out === Seq("ab ab ab", "a a a", "x ab y", "q", "ab"))
    // self-pair greedy: leftmost wins, leftovers stay
    val self = in.select(Pipeline5.mergeStep(col("sym"), "a a").as("m"))
      .collect().map(_.getString(0)).toSeq
    assert(self === Seq("a b a b a b", "aa a", "x a b y", "q", "a b"))
  }

  test("bpe: merge rewrite equals a direct greedy scan on 400 adversarial strings") {
    import spark.implicits._
    // reference: left-to-right greedy merge, the BPE definition
    def greedy(tokens: List[String], l: String, r: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var i = 0
      while (i < tokens.length) {
        if (i + 1 < tokens.length && tokens(i) == l && tokens(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += tokens(i); i += 1 }
      }
      out.toList
    }
    // alphabet chosen to be adversarial: 'ab' collides with merge(a,b),
    // 'aa' with merge(a,a); seeded, so the test is reproducible
    val alphabet = Vector("a", "b", "ab", "aa", "x")
    val rnd = new scala.util.Random(42)
    val cases = for {
      _ <- 1 to 400
      n = 1 + rnd.nextInt(9)
      toks = List.fill(n)(alphabet(rnd.nextInt(alphabet.length)))
      l = alphabet(rnd.nextInt(alphabet.length))
      r = alphabet(rnd.nextInt(alphabet.length))
    } yield (toks.mkString(" "), l, r)
    cases.groupBy { case (_, l, r) => (l, r) }.foreach { case ((l, r), grp) =>
      val got = grp.map(_._1).toDF("sym")
        .select(col("sym"), Pipeline5.mergeStep(col("sym"), s"$l $r").as("m"))
        .collect().map(row => row.getString(0) -> row.getString(1)).toMap
      grp.foreach { case (sym, _, _) =>
        val want = greedy(sym.split(" ").toList, l, r).mkString(" ")
        assert(got(sym) === want, s"merge($l,$r) on '$sym'")
      }
    }
  }

  test("bpe: 6 ordered merges, non-increasing counts, deterministic") {
    val m = Pipeline5.pipelineBpeMerges(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(m.map(_._1).toSeq === (1 to Pipeline5.BpeMerges))
    // every chosen pair is two space-separated symbols
    m.foreach { case (_, p, c) =>
      assert(p.split(" ").length === 2, s"pair '$p'")
      assert(c > 0)
    }
    // a new pair's count is bounded by the count of the merge that
    // created its merged symbol, so the chosen counts never increase
    m.map(_._3).sliding(2).foreach {
      case Array(a, b) => assert(b <= a, s"counts must be non-increasing: $a -> $b")
      case _ =>
    }
    val again = Pipeline5.pipelineBpeMerges(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(m.toSeq === again.toSeq)
  }

  test("containment: directed, in [0.5, 1], and a full-containment pair is a true subset") {
    val rows = Dedup.dedupContainment(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, c) =>
      assert(a !== b)
      assert(c >= 0.5 && c <= 1.0, s"($a,$b) containment $c")
    }
    // verify one c = 1.0 row against a driver-side shingle recompute:
    // containment 1 ⇔ S(a) ⊆ S(b)
    val full = rows.filter(_._3 == 1.0)
    assert(full.nonEmpty, "slice should contain a fully-contained doc")
    val (fa, fb, _) = full.head
    val sh = Tables.documents(spark, sf001)
      .filter(col("doc_id").isin(fa, fb))
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(sh(fa).subsetOf(sh(fb)), s"S($fa) must be a subset of S($fb)")
    // asymmetry is real: some pair appears in one direction with a
    // different score than its reverse (or the reverse is below cut)
    val scores = rows.map { case (a, b, c) => (a, b) -> c }.toMap
    assert(rows.exists { case (a, b, c) => scores.get((b, a)).forall(_ != c) },
      "expected at least one asymmetric containment pair")
  }

  test("foreach_batch: multi-batch replay, merged partials equal the one-shot aggregate") {
    val out = StreamingQueries.streamForeachBatch(spark, sf0001)
    val nBatches = StreamingQueries.lastDrained.get.recentProgress.count(_.numInputRows > 0)
    assert(nBatches >= 2, s"replay must be multi-batch, got $nBatches")
    val got = out.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = Tables.events(spark, sf0001)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), Tables.sumMoney(col("value")).as("sum_value"))
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === want)
  }

  test("bpe apply: vocabulary tokens are merge-consistent and weights are conserved") {
    val vocab = Pipeline5.pipelineBpeApply(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // at sf0.001 the symbol alphabet can be smaller than the cap
    assert(vocab.nonEmpty && vocab.length <= Pipeline5.BpeVocabTop)
    // weights are positive and the list is (cnt DESC, token) ordered
    vocab.sliding(2).foreach {
      case Array((t1, c1), (t2, c2)) =>
        assert(c1 > c2 || (c1 == c2 && t1 < t2), s"($t1,$c1) vs ($t2,$c2)")
      case _ =>
    }
    // every multi-char token must be buildable from the learned merges:
    // the merged symbols are exactly the concat of each merge pair
    val merges = Pipeline5.pipelineBpeMerges(spark, sf0001).collect()
      .map(_.getString(1)).map(p => p.replace(" ", "")).toSet
    vocab.map(_._1).filter(_.length > 1).foreach { t =>
      assert(merges.contains(t),
        s"multi-char token '$t' must be a merge output")
    }
  }

  test("curriculum: exact-integer staging, stages cover the corpus, thresholds honored") {
    val rows = Pipeline5.pipelineCurriculum(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(rows.length.toLong === nDocs, "every doc gets a stage")
    rows.foreach { case (id, tok, types, ttr, stage) =>
      assert(tok > 0 && types > 0 && types <= tok, s"doc $id")
      assert(ttr === types * 1000 / tok, s"doc $id ttr $ttr")
      val want = if (ttr < 400) 1 else if (ttr < 550) 2 else if (ttr < 700) 3 else 4
      assert(stage === want, s"doc $id ttr $ttr stage $stage")
    }
    // staging must discriminate at this corpus size
    assert(rows.map(_._5).distinct.length >= 2, "all docs in one stage")
  }

  test("interval overlap: bucketed candidates reproduce the exact non-equi join") {
    val got = Relational6.intervalOverlap(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.nonEmpty)
    // recompute via the naive exact overlap join (small slice, test only)
    val li = Tables.lineitem(spark, sf001).as("l")
      .join(Tables.orders(spark, sf001).as("o"), col("l.l_orderkey") === col("o.o_orderkey"))
      .join(Tables.supplier(spark, sf001).filter(col("s_nationkey") === 3).as("s"),
        col("l.l_suppkey") === col("s.s_suppkey"))
      .filter(year(col("l.l_shipdate")) === 1995 &&
        to_date(col("o.o_orderdate")) <= to_date(col("l.l_shipdate")))
      .select(col("l.l_suppkey").as("k"),
        (col("l.l_orderkey") * 10 + col("l.l_linenumber")).as("lid"),
        to_date(col("o.o_orderdate")).as("a"), to_date(col("l.l_shipdate")).as("b"))
    val want = li.as("x").join(li.as("y"),
        col("x.k") === col("y.k") && col("x.lid") < col("y.lid") &&
          col("x.a") <= col("y.b") && col("y.a") <= col("x.b"))
      .select(col("x.k"), col("x.lid"), col("y.lid"),
        (datediff(least(col("x.b"), col("y.b")),
          greatest(col("x.a"), col("y.a"))) + 1).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.sorted === want.sorted,
      "week-bucketed candidates must lose no overlapping pair")
    got.foreach { case (_, _, _, d) => assert(d >= 1) }
  }

  test("observe: metrics ride the job and equal a direct aggregate") {
    val m = Relational6.observeMetrics(spark, sf0001).collect()
    assert(m.length === 1)
    val want = Tables.lineitem(spark, sf0001)
      .agg(count(lit(1)), Tables.sumMoney(col("l_extendedprice")),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd")).collect()(0)
    assert(m(0).getLong(0) === want.getLong(0))
    assert(m(0).getDouble(1) === want.getDouble(1))
    assert(m(0).getString(2) === want.getString(2))
  }

  test("q124_collation: UTF8_LCASE grouping merges case variants") {
    val rows = Relational6.collation(spark, sf0001).collect()
    val nDocs = Tables.documents(spark, sf0001).count()
    // 4 case forms fold into each of the 7 suffix groups — if Spark
    // grouped case-sensitively there would be up to 28 rows
    assert(rows.length === 7)
    assert(rows.map(_.getLong(1)).sum === nDocs)
    // each group genuinely received MULTIPLE case variants (the
    // collation did the merging, not a degenerate fixture)
    assert(rows.forall(_.getLong(2) > 1), "no case variants merged")
    // the collated equality/prefix probes matched case-insensitively:
    // 'ALPHA-3' catches every variant of suffix 3; 'ALPH' catches all
    rows.foreach { r =>
      val isSuffix3 = r.getString(0) == "alpha-3"
      assert(r.getLong(3) === (if (isSuffix3) r.getLong(1) else 0L))
      assert(r.getLong(4) === r.getLong(1))
    }
  }

  test("sql scripting: WHILE-loop fold equals the per-linenumber batch recompute") {
    val row = Relational6.sqlScripting(spark, sf0001).collect()
    assert(row.length === 1)
    val acc = row(0).getDouble(1)
    val per = Tables.lineitem(spark, sf0001)
      .filter(col("l_linenumber") <= 4)
      .groupBy(col("l_linenumber"))
      .agg(Tables.sumMoney(col("l_extendedprice")).as("s"))
      .orderBy(col("l_linenumber")).collect().map(_.getDouble(1))
    assert(per.length === 4)
    val fold = per.foldLeft(0.0)(_ + _)
    assert(acc === fold)
  }
}
