package graft.tools

import graft.operators.WordCount

/** The reference's one job, end to end, as a runnable binary:
  * corpus dir → word counts → one CSV directory per partition key
  * (reference: `README.md` run instructions; layout
  * `worker-fs/reduce-task-output/<worker>/<P>.txt`).
  *
  *   sbt "runMain graft.tools.ReferenceJobMain [inputDir] [outputDir]"
  */
object ReferenceJobMain {
  def main(args: Array[String]): Unit = {
    val in = args.headOption.getOrElse(graft.SparkEntry.ReferenceCorpusDir)
    val out = args.lift(1).getOrElse("/tmp/graft_wordcount_out")
    val spark = graft.GraftSession()
    val result = WordCount.referenceJob(spark, in)
    WordCount.writePartitioned(result, out)
    val n = spark.read.csv(out).count()
    println(s"[reference-job] $in -> $out: $n distinct words")
    spark.stop()
  }
}
