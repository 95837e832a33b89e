package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Bench.median
import graft.functions.{CaseFold, VectorExpressions}

/** Micro-benchmark: custom codegen expressions vs the semantically
  * identical built-in higher-order-function formulations (which Spark
  * evaluates interpreted, per element), the word-count map's
  * per-document normalizer vs its per-token form, and the case-fold
  * kernel vs Spark's `lower`. Medians of 3 runs after warmup (row 7: of
  * 6 runs, alternating which side goes first).
  * Run: sbt "runMain graft.tools.ExprBench [sfDir]"
  */
object ExprBench {
  def main(args: Array[String]): Unit = {
    val dir = graft.Tables.dataDir(args.headOption.getOrElse("/root/testdata/sf0.1"))
    val spark = graft.GraftSession()

    def once(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      graft.Lanes.force(df)
      (System.nanoTime() - t0) / 1e9
    }
    def timeMedian(df: => DataFrame): Double = {
      once(df) // warmup
      median(Seq.fill(3)(once(df)))
    }

    /** Both warmed up, then 6 pairs, each side first in 3 of them: the
      * first run of a pair measured up to 30% slower, whichever it was.
      */
    def timeAlternating(a: DataFrame, b: DataFrame): (Double, Double) = {
      once(a); once(b)
      val runs = (0 until 6).map { i =>
        if (i % 2 == 0) { val ta = once(a); (ta, once(b)) }
        else { val tb = once(b); (once(a), tb) }
      }
      (median(runs.map(_._1)), median(runs.map(_._2)))
    }

    val docs = graft.Tables.documents(spark, dir)
    val emb = graft.Tables.embeddings(spark, dir)
    val toks = CaseFold.tokens(col("text"))

    // 1. shingles: codegen kernel vs transform+concat_ws+array_distinct
    val shingleExpr = timeMedian(
      docs.select(VectorExpressions.wordShingles3(toks).as("sh")))
    val shingleHof = timeMedian(docs.select(
      array_distinct(when(size(toks) >= 3,
        transform(sequence(lit(1), size(toks) - 2),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
            element_at(toks, i + 2))))
        .otherwise(array().cast("array<string>"))).as("sh")))

    // 2. minhash: one-pass kernel vs 32 × array_min(transform(...))
    val sh = VectorExpressions.wordShingles3(toks)
    val mhExpr = timeMedian(
      docs.select(VectorExpressions.minhashSignature(sh).as("sig")))
    val h32 = transform(sh, s => xxhash64(s).bitwiseAND(lit(0xffffffffL)))
    val mhHof = timeMedian(docs.select(array(
      (0 until 32).map { i =>
        val a = graft.functions.MinHashUtil.A(i)
        val b = graft.functions.MinHashUtil.B(i)
        array_min(transform(h32,
          x => (lit(a) * x + lit(b)) % lit(graft.functions.MinHashUtil.P)))
      }: _*).as("sig")))

    // 3. cosine: codegen kernel vs zip_with + aggregate
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val cosExpr = timeMedian(emb.select(
      VectorExpressions.cosineSimilarity(col("embedding"), typedLit(q)).as("s")))
    val cosHof = timeMedian {
      val qc = typedLit(q)
      val dot = aggregate(zip_with(col("embedding"), qc,
        (a, b) => a.cast("double") * b.cast("double")), lit(0.0), (s, x) => s + x)
      val na = aggregate(transform(col("embedding"), x => x.cast("double")),
        lit(0.0), (s, x) => s + x * x)
      val nb = aggregate(transform(qc, x => x.cast("double")),
        lit(0.0), (s, x) => s + x * x)
      emb.select((dot / (sqrt(na) * sqrt(nb))).as("s"))
    }

    // 4. int8 quant stats: one-pass kernel vs the higher-order chain
    //    (the scale subexpression re-derives array_max inside every
    //    per-element lambda — interpreted, outside whole-stage CSE)
    val quantExpr = timeMedian(emb.select(col("vec_id"),
      VectorExpressions.int8QuantStats(col("embedding")).as("st")))
    val quantHof = timeMedian {
      val v = transform(col("embedding"), x => x.cast("double"))
      val maxAbs = array_max(transform(v, x => abs(x)))
      val scale = when(maxAbs > 0, lit(127.0) / maxAbs)
      val qq = transform(v, x => floor(x * scale + 0.5).cast("long"))
      emb.select(col("vec_id"), scale.as("scale"),
        when(maxAbs > 0, aggregate(qq, lit(0L), (a, x) => a + x)).as("q_sum"),
        when(maxAbs > 0, size(filter(qq, x => abs(x) === 127)))
          .otherwise(0).cast("long").as("n_saturated"))
    }

    // 5. 8-token windows (substring-dedup kernel) vs the same
    //    transform+concat_ws+array_distinct chain at window 8
    val ngramExpr = timeMedian(
      docs.select(VectorExpressions.wordNgrams(toks, 8).as("w")))
    val ngramHof = timeMedian(docs.select(
      array_distinct(when(size(toks) >= 8,
        transform(sequence(lit(1), size(toks) - 7),
          i => concat_ws(" ", (0 until 8).map(j => element_at(toks, i + j)): _*)))
        .otherwise(array().cast("array<string>"))).as("w")))

    // 6. word-count map: the per-token normalize (one regex Matcher and
    //    one case fold per token) vs WordCount.words (one fold, one
    //    strip per document); both drop the empty tokens
    val wcToken = timeMedian(docs
      .select(explode(split(col("text"), " ", -1)).as("tok"))
      .select(CaseFold.lower(regexp_replace(col("tok"), "[^\\w]", "")).as("word"))
      .filter(col("word") =!= ""))
    val wcDoc = timeMedian(docs
      .select(explode(graft.operators.WordCount.words(col("text"))).as("word"))
      .filter(col("word") =!= ""))

    // 7. case fold, warm: the kernel vs Spark's `lower`, every document
    //    20 times over so the fold outweighs the scan. The warmup pays
    //    each one-time init (Spark's title-case table), so the medians
    //    price only the per-row fold. The corpus is all ASCII; an
    //    appended 'É' sends every row down ICU's path
    val docs20 = docs.select(col("text"), explode(sequence(lit(1), lit(20))).as("rep"))
    val nonAscii = concat(col("text"), lit("\u00C9"))
    val (foldKernel, foldSpark) = timeAlternating(
      docs20.select(CaseFold.lower(col("text")).as("lt")),
      docs20.select(lower(col("text")).as("lt")))
    val (foldKernelIcu, foldSparkIcu) = timeAlternating(
      docs20.select(CaseFold.lower(nonAscii).as("lt")),
      docs20.select(lower(nonAscii).as("lt")))

    println(f"[exprbench] shingles: codegen=$shingleExpr%.2fs hof=$shingleHof%.2fs speedup=${shingleHof / shingleExpr}%.1fx")
    println(f"[exprbench] minhash32: codegen=$mhExpr%.2fs hof=$mhHof%.2fs speedup=${mhHof / mhExpr}%.1fx")
    println(f"[exprbench] cosine: codegen=$cosExpr%.2fs hof=$cosHof%.2fs speedup=${cosHof / cosExpr}%.1fx")
    println(f"[exprbench] int8quant: codegen=$quantExpr%.2fs hof=$quantHof%.2fs speedup=${quantHof / quantExpr}%.1fx")
    println(f"[exprbench] ngrams8: codegen=$ngramExpr%.2fs hof=$ngramHof%.2fs speedup=${ngramHof / ngramExpr}%.1fx")
    println(f"[exprbench] wordcount-map: per-doc=$wcDoc%.2fs per-token=$wcToken%.2fs speedup=${wcToken / wcDoc}%.1fx")
    println(f"[exprbench] lower-ascii: kernel=$foldKernel%.2fs spark=$foldSpark%.2fs ratio=${foldSpark / foldKernel}%.2fx")
    println(f"[exprbench] lower-icu: kernel=$foldKernelIcu%.2fs spark=$foldSparkIcu%.2fs ratio=${foldSparkIcu / foldKernelIcu}%.2fx")
    spark.stop()
  }
}
