package graft.kg

import org.apache.spark.sql.SparkSession

/**
 * spark-submit entry for the full KG-construction pipeline:
 *
 *   corpus (parquet/table) -> [slice+parse kernel] -> staging{triples,errors}
 *     -> [skolemize] -> [canonicalize/link] -> nodes + edges tables
 *     -> manifest: the commit, one metrics row per document
 *
 * Usage:
 *   Pipeline <corpusParquetPath|synth:N:L> <outDir> [buckets] [strict]
 */
object Pipeline {

  /** Session tuned for the sandbox (local[32]); on a cluster only master changes. */
  def session(appName: String = "graft-kg", master: Option[String] = None,
              shufflePartitions: Int = 32): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // list up to 1024 paths (a glob's files, a table's partition dirs)
      // on the driver, not in a distributed job: at the default of 32 a
      // 64-file glob or a 64-bucket staging or manifest table is
      // listed by a job. Measured on the local FS at local[4]: the job for
      // a 64-file glob ran ~300 ms, and NtFileSource.documents took
      // 0.5-0.9 s with it against 50-70 ms listing on the driver. Object
      // stores were not measured.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    master.foreach(b.master)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Pipeline <corpusPath|synth:N:L> <outDir> [buckets] [strict]")
    val corpusArg = args(0)
    val outDir = args(1)
    val buckets = if (args.length > 2) args(2).toInt else 64
    val strict = args.length > 3 && args(3) == "strict"

    val spark = session(master = sys.env.get("SPARK_MASTER").orElse(Some("local[*]")))
    import spark.implicits._
    val corpus = corpusArg match {
      case s if s.startsWith("synth:") =>
        val Array(_, n, l) = s.split(":")
        Corpus.synthetic(spark, n.toLong, l.toInt)
      case path =>
        spark.read.parquet(path).as[CorpusRow]
    }
    val processed = Materialize.run(spark, corpus, outDir, buckets, strict)
    println(s"[pipeline] processed $processed bucket(s) -> $outDir")
    spark.stop()
  }
}
