package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.BitInterleave
import graft.operators.Layout

/** Z-order expression laws + layout/compaction recomputes at sf0.001. */
class LayoutSpec extends AnyFunSuite with SparkTestBase {

  test("interleave16 kernel: bit placement, range, and inverse") {
    val rnd = new scala.util.Random(7)
    (0 until 200).foreach { _ =>
      val x = rnd.nextLong().abs % 65536
      val y = rnd.nextLong().abs % 65536
      val z = BitInterleave.interleave16(x, y)
      assert(z >= 0 && z < (1L << 32))
      (0 until 16).foreach { i =>
        assert(((z >> (2 * i)) & 1) === ((x >> i) & 1), s"x bit $i")
        assert(((z >> (2 * i + 1)) & 1) === ((y >> i) & 1), s"y bit $i")
      }
    }
    // masking: only the low 16 bits participate
    assert(BitInterleave.interleave16(65536L + 3, 0) ===
      BitInterleave.interleave16(3, 0))
  }

  test("SQL-registered function and oracle's 32-term expansion agree with kernel") {
    val df = spark.range(1, 1000)
      .select(col("id").as("x"), (col("id") * 2654435761L % 65536).as("y"))
    val viaExpr = df.selectExpr("x", "y", "interleave_bits16(x, y) AS z")
    // the DuckDB oracle's bit-OR expansion is valid Spark SQL too —
    // evaluating it here pins the oracle text against the kernel
    val viaSql = df.selectExpr("x", "y", s"(${Layout.zExprSql("x", "y")}) AS z")
    val a = viaExpr.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val b = viaSql.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.sameElements(b))
    a.foreach { case (x, y, z) =>
      assert(z === BitInterleave.interleave16(x, y))
    }
  }

  test("zorder layout: buckets recompute and rectangles are tight") {
    val rows = Layout.zorderLayout(spark, sf0001).collect()
    val li = Tables.lineitem(spark, sf0001)
      .select("l_partkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val mp = li.map(_._1).max
    val ms = li.map(_._2).max
    val expect = li.groupBy { case (p, s) =>
      BitInterleave.interleave16(p * 65535 / mp, s * 65535 / ms) >> 27
    }.map { case (b, xs) =>
      b -> (xs.length.toLong, xs.map(_._1).min, xs.map(_._1).max,
        xs.map(_._2).min, xs.map(_._2).max)
    }
    assert(rows.length === expect.size)
    assert(rows.length > 16, "normalized keys must spread over the buckets")
    rows.foreach { r =>
      val (n, minP, maxP, minS, maxS) = expect(r.getLong(0))
      assert(r.getLong(1) === n)
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ===
        ((minP, maxP, minS, maxS)))
    }
    // the layout claim: a z-bucket (top 5 bits = 3 supp-bits, 2
    // part-bits) bounds BOTH dimensions — suppkey range within any
    // bucket is at most ~1/8 of its domain, partkey range at most ~1/4
    // (+1 covers the integer-scaling granularity)
    rows.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= mp / 4 + 1, "partkey side")
      assert(r.getLong(5) - r.getLong(4) <= ms / 8 + 1, "suppkey side")
    }
  }

  test("compaction plan: greedy row packing recomputes from table counts") {
    val got = Layout.compactionPlan(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val counts = Tables.names.map(t =>
      s"$t.parquet" -> spark.read.parquet(s"$sf0001/$t.parquet").count()).sortBy(_._1)
    val target = 50000L
    var before = 0L
    val expect = counts.map { case (f, n) =>
      val first = before / target
      val last = (before + n - 1) / target
      val row = (f, n, first, last - first + 1)
      before += n
      row
    }
    assert(got.toSeq === expect)
  }

  test("compaction plan fails loudly on a directory symlink cycle") {
    // a temp data dir: nation is one partition directory holding a copy
    // of its sf0.001 file plus `loop -> ..`; every other table links
    // to its sf0.001 file
    val tmp = java.nio.file.Files.createTempDirectory("layout_cycle")
    Tables.names.foreach { t =>
      val src = java.nio.file.Paths.get(s"$sf0001/$t.parquet")
      val dst = tmp.resolve(s"$t.parquet")
      if (t != "nation") java.nio.file.Files.createSymbolicLink(dst, src)
      else {
        val part = java.nio.file.Files.createDirectories(dst.resolve("date=1"))
        java.nio.file.Files.copy(src, part.resolve("part-0.parquet"))
        java.nio.file.Files.createSymbolicLink(part.resolve("loop"),
          java.nio.file.Paths.get(".."))
      }
    }
    try {
      val e = intercept[Exception](
        Layout.compactionPlan(spark, tmp.toString).collect())
      val msg = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(msg.contains("symlink cycle"), msg)
      assert(msg.contains(tmp.toRealPath().resolve("nation.parquet").toString), msg)
    } finally {
      // Files.walk does not follow links: deepest entries go first
      val all = java.nio.file.Files.walk(tmp)
      try all.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally all.close()
    }
  }
}
