package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends AnyFunSuite with SparkTestBase {

  test("sim_ann_lsh results are a subset of exact sims, correctly ranked") {
    val brute = Similarity.simTopkBruteforce(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = Similarity.simAnnLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // ANN sims must be the true sims (exact re-rank), sorted desc
    val sims = ann.map(_._2)
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    // recall@10 against brute force (fixed seed ⇒ deterministic)
    val recall = ann.map(_._1).count(brute.contains) / 10.0
    assert(recall >= 0.3, s"recall=$recall")
  }

  test("LSH candidate filter matches driver-side signature computation") {
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val q = emb(0L)
    val qSig = Similarity.signatureOf(q)
    val expectedCandidates = emb.collect {
      case (id, v) if Similarity.signatureOf(v).zip(qSig).exists { case (a, b) => a == b } => id
    }.toSet
    val ann = Similarity.simAnnLsh(spark, sf0001).collect().map(_.getLong(0)).toSet
    assert(ann.subsetOf(expectedCandidates))
  }

  test("sim_ann_ivf: exact re-rank subset with reasonable recall") {
    val brute = Similarity.simTopkBruteforce(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = Similarity.simAnnIvf(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val sims = ivf.map(_._2)
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    val recall = ivf.map(_._1).count(brute.contains) / 10.0
    assert(recall >= 0.3, s"recall=$recall")
    // the query vector itself (vec_id 0) must be found: its own list is probed
    assert(ivf.head._1 === 0L && math.abs(ivf.head._2 - 1.0) < 1e-9)
  }

  test("ANN recall@10 floors hold across multiple query vectors") {
    // both approximate tiers, swept over 3 well-separated query ids —
    // fixed hyperplane seed + deterministic centroids make every recall
    // value reproducible, so the floors are falsifiable, not decorative
    val qids = Seq(0L, 123L, 456L)
    val recalls = qids.map { qid =>
      val exact = Similarity.simTopkBruteforceFor(spark, sf0001, qid)
        .collect().map(_.getLong(0)).toSet
      def recall(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(_.getLong(0)).count(exact.contains) / 10.0
      val lsh = recall(Similarity.simAnnLshFor(spark, sf0001, qid).collect())
      val ivf = recall(Similarity.simAnnIvfFor(spark, sf0001, qid).collect())
      (qid, lsh, ivf)
    }
    recalls.foreach { case (qid, lsh, ivf) =>
      assert(lsh >= 0.3, s"LSH recall@10 for qid=$qid: $lsh (all: $recalls)")
      assert(ivf >= 0.3, s"IVF recall@10 for qid=$qid: $ivf (all: $recalls)")
    }
    // the sweep must not be uniformly at the floor — that would suggest
    // the candidate filters are degenerate rather than selective
    assert(recalls.exists { case (_, lsh, ivf) => lsh >= 0.5 || ivf >= 0.5 },
      s"suspiciously flat recalls: $recalls")
  }

  test("IVF centroids are deterministic across invocations") {
    val a = Similarity.ivfCentroids(spark, sf0001)
    val b = Similarity.ivfCentroids(spark, sf0001)
    assert(a.length === 16)
    a.zip(b).foreach { case (x, y) => assert(x.toSeq === y.toSeq) }
  }

  test("emb_negative_sample: deterministic, no self-negatives, 4 per anchor") {
    val rows = graft.operators.Embeddings.embNegativeSample(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val nAnchors = Tables.embeddings(spark, sf0001).count()
    assert(rows.length === nAnchors * 4, "every anchor needs exactly 4 negatives")
    rows.foreach { case (a, _, neg, _) => assert(a !== neg, s"self-negative for $a") }
    // replayable: a second run yields the identical pair set
    val again = graft.operators.Embeddings.embNegativeSample(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.toSeq === again.toSeq)
    // hard negatives exist but are the minority (10 labels → ~10% collision)
    val hard = rows.count(_._4)
    assert(hard > 0 && hard < rows.length / 2, s"suspicious hard-negative rate: $hard/${rows.length}")
  }

  test("emb_drift_psi: buckets conserve the corpus; parity split shows no drift") {
    val rows = graft.operators.Embeddings.embDriftPsi(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val total = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    assert(total === Tables.embeddings(spark, sf0001).count(),
      "every vector must land in exactly one bucket")
    // the parity split is two iid samples of the same corpus — total PSI
    // must sit far below the classic 0.1 "investigate" threshold
    val psi = rows.flatMap(r => Option(r.get(3)).map(_.asInstanceOf[Double])).sum
    assert(math.abs(psi) < 0.1, s"parity-split PSI unexpectedly large: $psi")
  }

  test("approx percentile lands inside the exact 45th–55th rank bracket") {
    val rows = graft.operators.Relational2.q37ApproxPercentile(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2),
        s"${r.getString(0)}: approx median outside exact p45–p55 bracket")
    }
  }

  test("minhash LSH candidates achieve full recall on high-jaccard pairs (sf0.001)") {
    // ground truth: exact shingle-jaccard ≥ 0.2 pairs among ALL docs
    val pairs = Dedup.dedupMinhashLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every reported pair is verified exact-jaccard ≥ 0.2 by construction;
    // check symmetry/ordering invariants and determinism across runs
    pairs.foreach { case (a, b, j) =>
      assert(a < b); assert(j >= 0.2 && j <= 1.0)
    }
    val again = Dedup.dedupMinhashLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === again.toSeq)
  }

  test("simhash pairs: reported hamming matches signature xor popcount") {
    val sigs = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        graft.functions.VectorExpressions.simhash64(
          split(lower(col("text")), " ", -1)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.dedupSimhash(spark, sf0001).collect()
    pairs.foreach { r =>
      val (a, b, h) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(h === graft.functions.SimHashUtil.hamming(sigs(a), sigs(b)).toLong)
      assert(h <= 6)
    }
  }

  test("kmeans: deterministic, all vectors assigned, clusters non-trivial") {
    val a = Similarity.clusterKmeans(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val b = Similarity.clusterKmeans(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(a.toSeq === b.toSeq)
    assert(a.length === Tables.embeddings(spark, sf0001).count())
    val sizes = a.groupBy(_._2).view.mapValues(_.length)
    assert(sizes.size > 1, "degenerate single cluster")
    assert(a.forall { case (_, c) => c >= 0 && c < 16 })
  }

  test("kmeans dump: centroid is a scalar string that round-trips to doubles") {
    // the r8 dump carried a raw float-array column, which crashed the
    // driver's pandas row sort (ndarray cells are unhashable); the
    // contract now is ONE scalar string per row — comma-joined
    // shortest-round-trip doubles — that DuckDB's VARCHAR→DOUBLE cast
    // parses back to the exact values the Spark cosine kernel used
    val rows = Similarity.clusterKmeans(spark, sf0001)
      .select("cluster", "centroid").distinct().collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(rows.length === rows.map(_._1).distinct.length,
      "one centroid string per cluster")
    rows.foreach { case (_, s) =>
      val parts = s.split(",")
      assert(parts.length === 64)
      parts.foreach { p =>
        val d = java.lang.Double.parseDouble(p)
        assert(!d.isNaN && !d.isInfinite)
        // shortest-repr round trip: re-printing the parsed double gives
        // the dumped token back, so any correctly-rounded parser (DuckDB
        // strtod included) recovers the identical double
        assert(d.toString === p)
      }
    }
  }

  test("prefix-filtered exact join == brute-force all-pairs (sf0.001)") {
    // the prefix filter is a CANDIDATE superset, so the verified output
    // must equal the O(N²) ground truth exactly — no LSH-style misses
    val out = Dedup.dedupPrefixJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sh = Tables.documents(spark, sf0001)
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val brute = (for {
      (ia, sa) <- sh; (ib, sb) <- sh
      if ia < ib && sa.nonEmpty && sb.nonEmpty
      j = (sa & sb).size.toDouble / (sa | sb).size
      if j >= Dedup.PrefixJaccardT
    } yield (ia, ib, math.floor(j * 10000 + 0.5) / 10000)).toSet
    assert(out === brute)
    assert(brute.nonEmpty, "fixture regression: no J>=0.5 pairs at sf0.001")
  }

  test("prefix join is complete over the LSH tier's verified pairs") {
    // every LSH-verified pair at or above the exact tier's threshold
    // must appear in the exact output (the converse need not hold:
    // banding can miss pairs the exact join guarantees)
    val exact = Dedup.dedupPrefixJaccard(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshAtT = Dedup.dedupMinhashLsh(spark, sf001).collect()
      .filter(_.getDouble(2) >= Dedup.PrefixJaccardT)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshAtT.subsetOf(exact),
      s"exact tier missing LSH-verified pairs: ${lshAtT -- exact}")
    assert(lshAtT.nonEmpty, "fixture regression: no LSH pairs at threshold")
  }

  test("semantic dedup: kept flags equal the exact within-cluster recompute") {
    val out = Similarity.dedupSemantic(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(out.length === emb.size, "every embedding gets a verdict")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0.0) 0.0 else dot / d
    }
    val byCluster = out.groupBy(_._2)
    out.foreach { case (id, cl, kept) =>
      val expectDrop = byCluster(cl).exists { case (o, _, _) =>
        o < id && cos(emb(o), emb(id)) >= Similarity.SemDedupTau
      }
      assert(kept === !expectDrop, s"vec $id in cluster $cl")
    }
    // the lowest id of every cluster always survives
    byCluster.values.foreach { ms =>
      val lowest = ms.minBy(_._1)
      assert(lowest._3, s"lowest id ${lowest._1} must be kept")
    }
    assert(out.exists(!_._3), "fixture regression: no semantic drops")
  }

  test("semantic dedup k=64 (loop-UDF assignment path): kept flags recompute") {
    // k=64 > the codegen-tree cutover (16), so this runs the tight-loop
    // UDF assignment — the production k ∝ N path, verified by the same
    // recompute as the registered k=16 form
    val out = Similarity.dedupSemanticK64(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(out.length === emb.size, "every embedding gets a verdict")
    // genuinely large-k: the assignment must use clusters past the
    // expression-tree form's k=16 range, or the loop path wasn't hit
    assert(out.map(_._2).distinct.length > 16,
      "k=64 run collapsed to <=16 clusters — the large-k path is untested")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0.0) 0.0 else dot / d
    }
    val byCluster = out.groupBy(_._2)
    out.foreach { case (id, cl, kept) =>
      val expectDrop = byCluster(cl).exists { case (o, _, _) =>
        o < id && cos(emb(o), emb(id)) >= Similarity.SemDedupTau
      }
      assert(kept === !expectDrop, s"vec $id in cluster $cl (k=64)")
    }
  }

  test("dedup_clusters: transitive closure over candidate pairs") {
    val pairs = Dedup.dedupMinhashLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = Dedup.dedupClusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every endpoint is labeled, pair endpoints share a representative,
    // and the representative is the component minimum
    pairs.foreach { case (a, b) =>
      assert(labels.contains(a) && labels.contains(b))
      assert(labels(a) === labels(b), s"pair ($a,$b) split across clusters")
    }
    labels.groupBy(_._2).foreach { case (rep, members) =>
      assert(rep === members.keys.min)
    }
  }

  test("degenerate LSH bucket (1000 identical docs) stays linear via star linking") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-lshcap").toString
    val text = "the quick brown fox jumps over the lazy dog again and again"
    (0L until 1000L).map(i => (i, text)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // uncapped all-pairs would emit 1000·999/2 = 499 500 candidates from
    // the single hot bucket; the k-anchor star emits Σ_{i<k}(n-1-i) =
    // 999+998+997+996 = 3990 pairs, every one anchored at one of the 4
    // smallest doc_ids
    val pairs = Dedup.dedupMinhashLsh(spark, tmp).collect()
    assert(pairs.length === 3990)
    pairs.foreach { r =>
      assert(r.getLong(0) < Dedup.StarAnchors)
      assert(r.getDouble(2) === 1.0)
    }
    val sim = Dedup.dedupSimhash(spark, tmp).collect()
    assert(sim.length === 3990)
    sim.foreach { r => assert(r.getLong(0) < Dedup.StarAnchors && r.getLong(2) === 0L) }
    // connected components recover the full cluster through the star
    val labels = Dedup.dedupClusters(spark, tmp).collect()
    assert(labels.length === 1000)
    labels.foreach(r => assert(r.getLong(1) === 0L))
  }

  test("oversized-bucket star: anchor pairs survive, the non-anchor recall bound holds") {
    import spark.implicits._
    // a crafted single oversized bucket (40 members > cap 32) fed
    // straight into the blocking layer: with k=4 anchors, candidate
    // pairs exist iff the smaller endpoint is an anchor. Two mutually-
    // similar docs dissimilar to every anchor (ADVICE round 2) get a
    // candidate pair only when one of them IS an anchor — present for
    // (1,2), and ABSENT for (10,11): that loss is the documented recall
    // bound of the O(k·n) cap, pinned here so it can't regress silently.
    val banded = (0L until 40L)
      .map(i => (i, 0, 77L)).toDF("doc_id", "band_idx", "band_hash")
    val got = Dedup.cappedBucketPairs(banded, "band_hash", Seq.empty)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val anchors = (0L until Dedup.StarAnchors.toLong)
    val expected = (for {
      a <- anchors; b <- 0L until 40L if a < b
    } yield (a, b)).toSet
    assert(got === expected)
    assert(got.contains((1L, 2L)), "anchor/anchor pair must be a candidate")
    assert(!got.contains((10L, 11L)),
      "non-anchor/non-anchor pair is (documented) outside the capped candidate set")
    // but with 8 independent minhash bands on REAL text, a similar pair
    // in one oversized bucket nearly always co-occurs in another ≤cap
    // bucket; the sf0.001 recall test below covers that path end-to-end
  }

  test("dedup_clusters output is decoupled from the LSH lineage (checkpointed)") {
    // the propagation loop must iterate over MATERIALIZED edges/labels:
    // if either checkpoint is dropped, the returned frame's lineage
    // reaches back through the full LSH pipeline to the parquet scan,
    // and every downstream action (and each propagation round) re-runs
    // shingling+minhashing+banding+verification. A checkpointed result
    // plans as a LogicalRDD with no file source underneath.
    val plan = Dedup.dedupClusters(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("parquet"),
      s"cluster lineage reaches the scan — checkpoint dropped?\n$plan")
    assert(!plan.contains("Join"),
      s"cluster lineage re-plans the LSH joins — checkpoint dropped?\n$plan")
  }

  test("dedup_clusters on a corpus with zero candidate pairs is empty, not a crash") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-nodups").toString
    // fully distinct shingle sets → no LSH candidates → empty edge set
    (0L until 50L).map(i => (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(Dedup.dedupMinhashLsh(spark, tmp).collect().isEmpty)
    assert(Dedup.dedupClusters(spark, tmp).collect().isEmpty)
  }

  test("bucket cap preserves recall: uncapped verified pairs stay cluster-connected") {
    // reconstruct the pre-cap candidate set: plain all-pairs self-join
    // on the banded signature stream, then the same jaccard >= 0.2 gate
    val banded = Dedup.bandedMinhash(Tables.documents(spark, sf0001))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val byBucket = banded.groupBy(t => (t._2, t._3)).values
    val uncappedCandidates = byBucket.flatMap { rows =>
      val ids = rows.map(_._1).distinct.sorted
      for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
    }.toSet
    val shingleSets = Tables.documents(spark, sf0001)
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (shingleSets(a), shingleSets(b))
      if (x.isEmpty && y.isEmpty) 0.0
      else (x & y).size.toDouble / (x | y).size.toDouble
    }
    val uncappedVerified = uncappedCandidates.filter { case (a, b) => jac(a, b) >= 0.2 }
    val labels = Dedup.dedupClusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    uncappedVerified.foreach { case (a, b) =>
      assert(labels.contains(a) && labels.contains(b) && labels(a) === labels(b),
        s"pair ($a,$b) lost by the capped path")
    }
  }

  test("dedup_substring: boilerplate windows are capped out, rare shared spans survive") {
    import spark.implicits._
    // 40 docs share a license-header span (window freq 40 > cap 32 ⇒
    // dropped BEFORE pair generation: zero pairs from boilerplate, not
    // 780); docs 100/101 share a rare span ⇒ exactly one pair
    val header = (1 to Dedup.SpanTokens).map(i => s"lic$i").mkString(" ")
    val rare = (1 to Dedup.SpanTokens).map(i => s"quote$i").mkString(" ")
    val docs =
      (0 until 40).map(i => (i.toLong, s"$header unique$i", "en", "s", 0L)) ++
      Seq((100L, s"intro $rare", "en", "s", 0L),
          (101L, s"$rare outro", "en", "s", 0L))
    val dir = java.nio.file.Files.createTempDirectory("span_cap").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.dedupSubstring(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((100L, 101L, 1L)),
      s"only the rare span may pair, got: ${got.toSeq}")
  }

  test("dedup_substring matches a driver-side recompute (8-token windows + cap)") {
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val wins: Map[Long, Set[String]] = docs.map { case (id, text) =>
      id -> text.toLowerCase(java.util.Locale.ROOT)
        .split(" ", -1).sliding(Dedup.SpanTokens)
        .filter(_.length == Dedup.SpanTokens).map(_.mkString(" ")).toSet
    }.toMap
    val docFreq = wins.values.flatten.toSeq.groupBy(identity)
      .view.mapValues(_.size).toMap
    val kept = wins.view.mapValues(_.filter(w =>
      docFreq(w) <= Dedup.MaxSpanDocs)).toMap
    val expected = (for {
      (a, wa) <- kept.toSeq; (b, wb) <- kept.toSeq if a < b
      n = (wa & wb).size if n > 0
    } yield (a, b, n.toLong)).toSet
    val got = Dedup.dedupSubstring(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "slice should contain at least one copied span")
  }

  test("dedup_survivors: removals are accounted, every loser keeps a surviving rep") {
    val all = Tables.documents(spark, sf0001).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val survivors = Dedup.dedupSurvivors(spark, sf0001).collect()
      .map(_.getLong(0)).toSet
    assert(survivors.subsetOf(all))
    val exactKeep = Dedup.dedupExact(spark, sf0001).collect()
      .map(_.getLong(1)).toSet
    val clusters = Dedup.dedupClusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val losers = clusters.collect { case (d, rep) if d != rep => d }.toSet
    // the definition, recomputed set-wise
    assert(survivors === (exactKeep -- losers))
    // every removed near-dup's representative survives the near-dup
    // tier (it may itself lose to the exact tier only if it is not an
    // exact-group minimum, which can't happen: reps are cluster minima
    // and exact-dup groups share identical text, hence identical
    // clusters)
    clusters.foreach { case (d, rep) =>
      if (d != rep) assert(!losers.contains(rep))
    }
  }

  test("embedding quantization checksums match a driver-side recompute") {
    val vecs = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val rows = graft.operators.Embeddings.embQuantize(spark, sf0001).collect()
    assert(rows.length === vecs.size)
    rows.foreach { r =>
      val v = vecs(r.getLong(0)).map(_.toDouble)
      val scale = 127.0 / v.map(math.abs).max
      val q = v.map(x => math.floor(x * scale + 0.5).toLong)
      assert(r.getLong(2) === q.sum, s"q_sum mismatch for vec ${r.getLong(0)}")
      assert(r.getLong(3) === q.count(x => math.abs(x) == 127))
      // quantized values stay in int8 range by construction
      assert(q.forall(x => x >= -127 && x <= 127))
    }
  }

  test("exact dedup groups partition the table") {
    val docs = Tables.documents(spark, sf0001).count()
    val groups = Dedup.dedupExact(spark, sf0001)
      .agg(sum("n_copies")).head().getLong(0)
    assert(groups === docs)
  }

  test("sim_ann_pq: recall@10 floor, determinism, and code geometry") {
    // codebooks deterministic across invocations
    val b1 = Similarity.pqCodebooks(spark, sf0001)
    val b2 = Similarity.pqCodebooks(spark, sf0001)
    assert(b1.length === 8 && b1.forall(_.length === 16)
      && b1.forall(_.forall(_.length === 8)))
    assert(b1.map(_.map(_.toSeq).toSeq).toSeq === b2.map(_.map(_.toSeq).toSeq).toSeq)

    // recall@10 vs brute force over the standard query sweep; the ADC
    // shortlist re-ranks exactly, so every returned sim is exact
    val qids = Seq(0L, 123L, 456L)
    val recalls = qids.map { qid =>
      val exact = Similarity.simTopkBruteforceFor(spark, sf0001, qid)
        .collect().map(_.getLong(0)).toSet
      val pq = Similarity.simAnnPqFor(spark, sf0001, qid).collect()
      val sims = pq.map(_.getDouble(1))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      qid -> pq.map(_.getLong(0)).count(exact.contains) / 10.0
    }
    recalls.foreach { case (qid, r) =>
      assert(r >= 0.3, s"PQ recall@10 for qid=$qid: $r (all: $recalls)")
    }
    assert(recalls.exists(_._2 >= 0.5), s"suspiciously flat: $recalls")
    // the query vector itself must survive both tiers (its code equals
    // its own nearest codewords; ADC distance is minimal among exact dups)
    val self = Similarity.simAnnPq(spark, sf0001).collect()
    assert(self.head.getLong(0) === 0L
      && math.abs(self.head.getDouble(1) - 1.0) < 1e-9)
  }

  test("sim_ann_ivfpq: recall@10 floor, determinism, and model geometry") {
    // model deterministic across invocations, correct geometry
    val (c1, b1) = Similarity.ivfPqModel(spark, sf0001)
    val (c2, b2) = Similarity.ivfPqModel(spark, sf0001)
    assert(c1.length === 16 && c1.forall(_.length === 64))
    assert(b1.length === 8 && b1.forall(_.length === 16)
      && b1.forall(_.forall(_.length === 8)))
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq)
    assert(b1.map(_.map(_.toSeq).toSeq).toSeq === b2.map(_.map(_.toSeq).toSeq).toSeq)
    // coarse centroids live in normalized space: unit-ish norms (cell
    // means of unit vectors are inside the ball, not far outside it)
    c1.foreach { c =>
      val n = math.sqrt(c.map(x => x.toDouble * x).sum)
      assert(n > 0.0 && n <= 1.0 + 1e-6, s"centroid norm $n")
    }

    // recall@10 vs brute force over the standard query sweep; the ADC
    // shortlist re-ranks exactly, so every returned sim is exact
    val qids = Seq(0L, 123L, 456L)
    val recalls = qids.map { qid =>
      val exact = Similarity.simTopkBruteforceFor(spark, sf0001, qid)
        .collect().map(_.getLong(0)).toSet
      val out = Similarity.simAnnIvfPqFor(spark, sf0001, qid).collect()
      val sims = out.map(_.getDouble(1))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      qid -> out.map(_.getLong(0)).count(exact.contains) / 10.0
    }
    recalls.foreach { case (qid, r) =>
      assert(r >= 0.3, s"IVFPQ recall@10 for qid=$qid: $r (all: $recalls)")
    }
    assert(recalls.exists(_._2 >= 0.5), s"suspiciously flat: $recalls")
    // the query vector itself must survive cell probe, ADC shortlist,
    // and exact re-rank
    val self = Similarity.simAnnIvfPq(spark, sf0001).collect()
    assert(self.head.getLong(0) === 0L
      && math.abs(self.head.getDouble(1) - 1.0) < 1e-9)
  }

  test("dedup_tier_recall: bucket table recomputes from the two parent tiers") {
    val out = Dedup.dedupTierRecall(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val exact = Dedup.dedupPrefixJaccard(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val lsh = Dedup.dedupMinhashLsh(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture has no exact pairs — probe nothing")
    val expect = exact.groupBy { case (_, _, j) =>
      math.min(math.floor(j * 10).toLong, 9L)
    }.map { case (b, ps) =>
      val found = ps.count(p => lsh.contains((p._1, p._2))).toLong
      (b, ps.length.toLong, found, found * 10000 / ps.length)
    }.toSeq.sortBy(_._1)
    assert(out.toSeq === expect)
    // recall is a fraction; found pairs never exceed ground truth
    out.foreach { case (_, n, f, bps) =>
      assert(f <= n && bps <= 10000L)
    }
  }

  test("emb_matryoshka: driver recompute, monotone ladder, full-dim identity") {
    val out = graft.operators.Embeddings.embMatryoshka(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.map(_._1).toSeq === Seq(8L, 16L, 32L, 64L))
    // energy is cumulative: the mean retained ratio is non-decreasing
    // in m, and the full dimension retains everything exactly
    assert(out.map(_._3).toSeq === out.map(_._3).sorted)
    val full = out.last
    assert(full._3 === 10000L && full._4 === 10000L && full._5 === 10000L)
    assert(full._6 === full._2) // every vector >= 90% at m=64
    // exact recompute: same index-order fold, same per-vector bps pin
    val vecs = Tables.embeddings(spark, sf0001)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    Seq(8, 16, 32, 64).zip(out).foreach { case (m, row) =>
      val bps = vecs.map { e =>
        val pref = e.take(m).foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
        val total = e.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
        val ratio = if (total == 0.0) 1.0 else pref / total
        math.floor(ratio * 10000 + 0.5).toLong
      }
      assert(row._2 === vecs.length.toLong)
      assert(row._3 === bps.sum / vecs.length)
      assert(row._4 === bps.min && row._5 === bps.max)
      assert(row._6 === bps.count(_ >= 9000).toLong)
    }
  }

  test("emb_pca_power: unit eigenvector, dominant eigenpair, deterministic") {
    val out = graft.operators.Embeddings.embPcaPower(spark, sf0001).collect()
    assert(out.length === 64)
    val v = out.map(_.getDouble(1))
    val lambda = out.head.getDouble(2)
    // unit norm (rounded to the 1e-9 grid, so allow grid slack)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-6)
    // sign convention: the largest-|component| entry is positive
    val pivot = v.maxBy(math.abs)
    assert(pivot > 0)
    // recompute the Gram matrix driver-side; the output must be a true
    // near-eigenpair of it: lambda >= every diagonal (Rayleigh with any
    // basis vector is a lower bound on lambda_max) and the residual
    // ||G v - lambda v|| must be small relative to lambda
    val rows = Tables.embeddings(spark, sf0001)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val g = Array.ofDim[Double](64, 64)
    rows.foreach { e =>
      var i = 0
      while (i < 64) {
        var j = 0
        while (j < 64) { g(i)(j) += e(i).toDouble * e(j); j += 1 }
        i += 1
      }
    }
    val gv = Array.tabulate(64)(i => (0 until 64).map(j => g(i)(j) * v(j)).sum)
    val rayleigh = (0 until 64).map(i => v(i) * gv(i)).sum
    assert(math.abs(rayleigh - lambda) < 1e-3 * lambda)
    (0 until 64).foreach(i => assert(lambda >= g(i)(i) - 1e-6))
    val residual = math.sqrt(
      (0 until 64).map(i => math.pow(gv(i) - lambda * v(i), 2)).sum)
    assert(residual <= 0.05 * lambda, s"residual $residual vs lambda $lambda")
    val again = graft.operators.Embeddings.embPcaPower(spark, sf0001)
      .collect().map(_.getDouble(1))
    assert(again.toSeq === v.toSeq)
  }
}
