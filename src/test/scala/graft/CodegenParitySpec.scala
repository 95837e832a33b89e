package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorExpressions

/** The hand-written doGenCode paths must agree bit-for-bit with the
  * interpreted nullSafeEval paths — Spark picks either depending on
  * codegen availability/fallback, so any divergence is a correctness
  * bug that ordinary runs would hide. Forced via
  * spark.sql.codegen.factoryMode = CODEGEN_ONLY / NO_CODEGEN.
  */
class CodegenParitySpec extends AnyFunSuite with SparkTestBase {

  private def inBothModes[T](f: => Array[T]): (Array[T], Array[T]) = {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.get(key, "FALLBACK")
    try {
      spark.conf.set(key, "CODEGEN_ONLY")
      val gen = f
      spark.conf.set(key, "NO_CODEGEN")
      val interp = f
      (gen, interp)
    } finally spark.conf.set(key, prev)
  }

  private def docsToks = split(lower(col("text")), " ", -1)

  test("cosine_similarity: codegen == interpreted on real embeddings") {
    def run: Array[Double] = {
      val q = Tables.embeddings(spark, sf0001).filter(col("vec_id") === 1)
        .select("embedding").head().getSeq[Float](0).toArray
      Tables.embeddings(spark, sf0001)
        .select(VectorExpressions.cosineSimilarity(col("embedding"), typedLit(q)))
        .collect().map(_.getDouble(0))
    }
    val (gen, interp) = inBothModes(run)
    assert(gen.toSeq === interp.toSeq)
  }

  test("simhash64: codegen == interpreted on documents") {
    def run: Array[Long] = Tables.documents(spark, sf0001)
      .select(VectorExpressions.simhash64(docsToks))
      .collect().map(_.getLong(0))
    val (gen, interp) = inBothModes(run)
    assert(gen.toSeq === interp.toSeq)
  }

  test("minhash_signature: codegen == interpreted on shingles") {
    def run: Array[Seq[Long]] = Tables.documents(spark, sf0001)
      .select(VectorExpressions.minhashSignature(
        VectorExpressions.wordShingles3(docsToks)))
      .collect().map(_.getSeq[Long](0))
    val (gen, interp) = inBothModes(run)
    assert(gen.toSeq === interp.toSeq)
  }

  test("int8_quant_stats: codegen == interpreted, zero vector → (null, null, 0)") {
    def run: Array[(Option[Double], Option[Long], Long)] =
      Tables.embeddings(spark, sf0001)
        .select(VectorExpressions.int8QuantStats(col("embedding")).as("st"))
        .select(col("st.scale"), col("st.q_sum"), col("st.n_saturated"))
        .collect().map { r =>
          (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
            if (r.isNullAt(1)) None else Some(r.getLong(1)),
            r.getLong(2))
        }
    val (gen, interp) = inBothModes(run)
    assert(gen.toSeq === interp.toSeq)
    // zero and empty vectors have no scale; NaN-only likewise (skipped
    // as in SQL aggregates, so no poisoned scale)
    import spark.implicits._
    val edge = Seq(Array.fill(4)(0.0f), Array.empty[Float],
        Array.fill(3)(Float.NaN)).toDF("embedding")
      .select(VectorExpressions.int8QuantStats(col("embedding")).as("st"))
      .select(col("st.scale"), col("st.q_sum"), col("st.n_saturated"))
      .collect()
    edge.foreach { r =>
      assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) === 0L)
    }
    // NULL elements are skipped, not read as 0: [1.0f, null] must behave
    // exactly like [1.0f]
    val withNull = Seq((1, Seq(Some(1.0f), None)), (2, Seq(Some(1.0f))))
      .toDF("id", "embedding")
      .select(col("id"),
        VectorExpressions.int8QuantStats(
          col("embedding").cast("array<float>")).as("st"))
      .select(col("id"), col("st.scale"), col("st.q_sum"), col("st.n_saturated"))
      .collect().map(r => (r.getDouble(1), r.getLong(2), r.getLong(3))).toSet
    assert(withNull.size === 1, s"null element changed the stats: $withNull")
  }

  test("word_shingles3: codegen == interpreted, and matches a naive builder") {
    def run: Array[Seq[String]] = Tables.documents(spark, sf0001)
      .select(VectorExpressions.wordShingles3(docsToks))
      .collect().map(_.getSeq[String](0))
    val (gen, interp) = inBothModes(run)
    assert(gen.toSeq === interp.toSeq)
    // naive driver-side reference on a sample
    val sample = Tables.documents(spark, sf0001).limit(20)
      .select(col("text"), VectorExpressions.wordShingles3(docsToks).as("sh"))
      .collect()
    sample.foreach { r =>
      val toks = r.getString(0).toLowerCase(java.util.Locale.ROOT).split(" ", -1)
      val naive = toks.sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSeq.distinct
      assert(r.getSeq[String](1) === naive)
    }
  }

  test("interleave_bits16: codegen == interpreted == Scala kernel on real keys") {
    def run: Array[Long] =
      Tables.lineitem(spark, sf0001)
        .select(graft.functions.BitInterleave.interleaveBits16(
          pmod(col("l_partkey"), lit(65536L)),
          pmod(col("l_suppkey"), lit(65536L))).as("z"))
        .collect().map(_.getLong(0))
    val (gen, interp) = inBothModes(run)
    assert(gen.toSeq === interp.toSeq)
    val keys = Tables.lineitem(spark, sf0001)
      .select("l_partkey", "l_suppkey").collect()
      .map(r => graft.functions.BitInterleave.interleave16(
        r.getLong(0) % 65536, r.getLong(1) % 65536))
    assert(gen.toSeq === keys.toSeq)
  }

  test("bloom_might_contain: codegen == interpreted over all lineitem keys") {
    val keys = Tables.orders(spark, sf0001)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey").collect().map(_.getLong(0))
    val words = new Array[Long](graft.functions.SketchUtil.BloomWords)
    keys.foreach(graft.functions.SketchUtil.bloomAdd(words, _))
    def run: Array[Boolean] = Tables.lineitem(spark, sf0001)
      .select(graft.functions.SketchExpressions
        .bloomMightContain(col("l_orderkey"), words))
      .collect().map(_.getBoolean(0))
    val (gen, interp) = inBothModes(run)
    assert(gen.toSeq === interp.toSeq)
    assert(gen.exists(identity) && gen.exists(!_)) // both paths exercised
  }

  test("pq_encode: codegen == interpreted, zero vector deterministic") {
    val books = graft.operators.Similarity.pqCodebooks(spark, sf0001)
    def run: Array[Seq[Int]] =
      Tables.embeddings(spark, sf0001)
        .select(graft.functions.PqEncode(col("embedding"), books).as("c"))
        .collect().map(_.getSeq[Int](0))
    val (gen, interp) = inBothModes(run)
    assert(gen.toSeq === interp.toSeq)
    assert(gen.forall(c => c.length === 8 && c.forall(k => k >= 0 && k < 16)))
    // zero vector: norm guard passes it through raw; argmin ties break
    // to the lowest index, so the code is fully deterministic
    import spark.implicits._
    val z = Seq(Array.fill(64)(0.0f)).toDF("embedding")
      .select(graft.functions.PqEncode(col("embedding"), books).as("c"))
      .head().getSeq[Int](0)
    assert(z.length === 8)
  }

  test("ivfpq_encode: codegen == interpreted, coarse cell matches IVF argmax") {
    val (cents, books) = graft.operators.Similarity.ivfPqModel(spark, sf0001)
    def run: Array[Seq[Int]] =
      Tables.embeddings(spark, sf0001)
        .select(graft.functions.IvfPqEncode(col("embedding"), cents, books)
          .as("c"))
        .collect().map(_.getSeq[Int](0))
    val (gen, interp) = inBothModes(run)
    assert(gen.toSeq === interp.toSeq)
    // geometry: 1 coarse cell + 8 residual codes, all in range
    assert(gen.forall(c => c.length === 9 &&
      c.head >= 0 && c.head < 16 &&
      c.tail.forall(k => k >= 0 && k < 16)))
    // the kernel's fused coarse argmax (dot/||c|| over the normalized
    // vector, tie → larger idx) must agree with a driver replay of the
    // same arithmetic on every corpus vector
    val vecs = Tables.embeddings(spark, sf0001)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    vecs.zip(gen).foreach { case (v, code) =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      val vn = if (n == 0) v.map(_.toDouble) else v.map(_ / n)
      var best = 0
      var bestS = Double.NegativeInfinity
      cents.zipWithIndex.foreach { case (c, i) =>
        var dot = 0.0; var cn = 0.0
        var j = 0
        while (j < 64) { dot += vn(j) * c(j); cn += c(j).toDouble * c(j); j += 1 }
        val s = if (cn == 0) 0.0 else dot / math.sqrt(cn)
        if (s >= bestS) { bestS = s; best = i }
      }
      assert(code.head === best)
    }
  }
}
