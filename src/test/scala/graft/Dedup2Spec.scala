package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup2

class Dedup2Spec extends AnyFunSuite with SparkTestBase {

  test("dedup_url: every 4-variant group collapses to one canonical URL") {
    val out = Dedup2.dedupUrl(spark, sf001)
    val rows = out.collect()
    val nDocs = Tables.documents(spark, sf001).count()
    // the fixture makes groups of exactly 4 consecutive doc_ids (one per
    // decoration variant); a partial last group is allowed
    assert(rows.map(_.getLong(2)).sum === nDocs)
    assert(rows.length === ((nDocs + 3) / 4))
    assert(rows.forall(r => r.getLong(2) == 4 || r.getLong(2) == nDocs % 4))
    // all 4 raw variants are distinct strings
    assert(rows.filter(_.getLong(2) == 4).forall(_.getLong(3) == 4))
    // survivor is the v=0 member (smallest doc_id of the group)
    assert(rows.forall(_.getLong(1) % 4 == 0))
    // canonical form: host + path only — no scheme, www, port, query,
    // fragment, trailing slash, or uppercase residue survives
    assert(rows.forall { r =>
      val c = r.getString(0)
      c.matches("site\\d+\\.example\\.com/articles/item-\\d+")
    })
  }

  test("dedup_url: canonicalization handles each normalization axis") {
    import spark.implicits._
    val cases = Seq(
      // scheme + host case + trailing slash
      "HTTP://A.Example.COM/x/" -> "a.example.com/x",
      // www + default https port + fragment
      "https://www.a.example.com:443/x#frag" -> "a.example.com/x",
      // tracking params dropped, real params sorted
      "http://a.example.com:80/x?b=2&utm_source=s&a=1" ->
        "a.example.com/x?a=1&b=2",
      // all params tracking -> no query at all
      "https://a.example.com/x/?fbclid=1&gclid=2&utm_medium=m" ->
        "a.example.com/x",
      // root path collapses to bare host
      "https://www.a.example.com/" -> "a.example.com",
      // non-default port survives (it addresses a different server)
      "https://a.example.com:8443/x" -> "a.example.com:8443/x")
    val got = cases.map(_._1).toDF("u")
      .select(Dedup2.canonicalUrl(col("u"))).as[String].collect()
    assert(got.toSeq === cases.map(_._2))
  }

  test("pipeline_line_dedup: conservation, determinism, and real drops") {
    val out = Dedup2.pipelineLineDedup(spark, sf001).collect()
    val docs = Tables.documents(spark, sf001)
    assert(out.length === docs.count())
    // the sf0.01 fixture has genuinely repeated aligned 12-token lines
    // (near-dup docs share runs) — the operator must drop some
    val dropped = out.map(_.getLong(2)).sum
    assert(dropped > 0, "fixture carries no cross-doc repeated lines?")
    // conservation: kept lines' token count == new_text token count
    out.foreach { r =>
      val kept = r.getLong(1) - r.getLong(2)
      val txt = r.getString(3)
      if (kept == 0) assert(txt.isEmpty)
      else assert(txt.split(" ").length >= (kept - 1) * 12 + 1)
    }
    // a doc with no dropped lines reassembles to its EXACT original text
    val untouchedId = out.filter(_.getLong(2) == 0).head.getLong(0)
    val orig = docs.filter(col("doc_id") === untouchedId)
      .select(col("text")).head.getString(0)
    val rebuilt = out.find(_.getLong(0) == untouchedId).get.getString(3)
    assert(rebuilt === orig)
  }

  test("pipeline_contamination_fuzzy: fuzzy-only values, no false positives, self-recall") {
    val out = graft.operators.Dedup2.pipelineContaminationFuzzy(spark, sf001)
      .collect()
    assert(out.nonEmpty)
    // every reported overlap is genuinely FUZZY: at or above the
    // verification floor, strictly below exact (the 5+5-token trim
    // guarantees no corpus doc equals an eval item shingle-for-shingle)
    out.foreach { r =>
      assert(r.getDouble(2) >= 0.2 && r.getDouble(2) < 1.0)
      assert(r.getLong(3) % 50 == 0, "eval ids are the sampled sources")
    }
    // ground truth driver-side: exact shingle Jaccard of every doc
    // against every perturbed eval item
    def shingleSet(s: String): Set[String] = {
      val t = s.toLowerCase.split(" ", -1)
      if (t.length < 3) Set.empty else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val evalSh = docs.filter(_._1 % 50 == 0).map { case (id, txt) =>
      val t = txt.split(" ", -1)
      id -> shingleSet(
        if (t.length > 10) t.slice(5, t.length - 5).mkString(" ") else "")
    }
    def jac(a: Set[String], b: Set[String]): Double =
      if (a.isEmpty && b.isEmpty) 0.0
      else (a & b).size.toDouble / (a ++ b).size
    out.foreach { r =>
      val sh = shingleSet(docs(r.getLong(0)))
      val trueJ = evalSh.values.map(jac(sh, _)).toSeq
      // LSH-caught hits are a subset of the true hits, and the reported
      // max is EXACTLY one of the true jaccards (rounded half-up to 4)
      assert(r.getLong(1) <= trueJ.count(_ >= 0.2))
      assert(trueJ.exists(j =>
        BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .doubleValue == r.getDouble(2)),
        s"doc ${r.getLong(0)}: reported ${r.getDouble(2)} not among $trueJ")
    }
    // self-recall: the perturbed item keeps J≈0.55–0.9 with its own
    // source, so 8 LSH bands catch the large majority of sources
    val sources = docs.keys.filter(_ % 50 == 0).toSeq
    val found = out.map(_.getLong(0)).toSet
    assert(sources.count(found.contains) * 10 >= sources.size * 7,
      s"found ${sources.count(found.contains)} of ${sources.size} sources")
  }

  test("pipeline_contamination_bloom: equals the exact lane and genuinely prunes") {
    import org.apache.spark.sql.functions._
    val exact = graft.operators.Pipeline2
      .pipelineContamination(spark, sf0001).collect()
    val bloom = graft.operators.Pipeline2
      .pipelineContaminationBloom(spark, sf0001).collect()
    // prefilter + exact-verify must EQUAL the exact join: Bloom admits
    // false positives only, and the verify join scrubs those — a
    // single dropped true match (false negative) would differ here
    assert(bloom.length === exact.length)
    assert(exact.nonEmpty, "no contaminated docs — degenerate fixture")
    bloom.zip(exact).foreach { case (b, e) => assert(b === e) }
    // and the filter genuinely prunes: rebuild it and count survivors
    val docs = Tables.documents(spark, sf0001)
    val evalSh = docs.filter(col("doc_id") % 50 === 0)
      .select(explode(graft.operators.Dedup.shingles(col("text")))
        .as("sh")).distinct()
    val bf = evalSh.agg(call_function("graft_bloom_agg",
      xxhash64(col("sh")), lit(graft.operators.Pipeline2.BloomItems),
      lit(graft.operators.Pipeline2.BloomBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val corpusSh = docs.filter(col("doc_id") % 50 =!= 0)
      .select(explode(graft.operators.Dedup.shingles(col("text")))
        .as("sh"))
    val total = corpusSh.count()
    val candidates = corpusSh
      .filter(call_function("graft_bloom_might_contain", lit(bf), xxhash64(col("sh"))))
      .count()
    assert(candidates < total,
      s"prefilter passed everything ($candidates of $total) — degenerate")
    // false-positive sanity: candidates should be within a small
    // multiple of the true match volume at this fpp
    val matched = corpusSh.join(broadcast(evalSh), Seq("sh")).count()
    assert(candidates >= matched, "Bloom false negative — impossible")
    assert(candidates <= matched + (total - matched) / 10,
      s"fpp out of band: $candidates candidates for $matched matches of $total")
    // the prefilter is genuinely IN the plan (scan-side, pre-join) —
    // the exchange-level shape is identical to the exact lane's, so
    // this is the pin that separates them
    val plan = graft.operators.Pipeline2
      .pipelineContaminationBloom(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "bloom prefilter missing from the executed plan")
  }

  test("pipeline_domain_cap: survivors are the true per-domain top-k") {
    val out = graft.operators.Dedup2.pipelineDomainCap(spark, sf001).collect()
    // ground truth driver-side from the same fixture arithmetic
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).length.toLong).toMap
    val byDomain = docs.toSeq
      .groupBy { case (id, _) => s"site${id / 4 % 37}.example.com" }
    val expect = byDomain.flatMap { case (dom, ds) =>
      ds.sortBy { case (id, len) => (-len, id) }.take(3).zipWithIndex
        .map { case ((id, len), i) => (dom, id, (i + 1).toLong, len) }
    }.toSet
    assert(out.map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      === expect)
    // cap honored, and every fixture domain is represented
    val perDomain = out.groupBy(_.getString(0))
    assert(perDomain.values.forall(_.length <= 3))
    assert(perDomain.size === byDomain.size)
  }
}
