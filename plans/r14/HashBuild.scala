object HashBuild {
  // HashBuild <glob> <outDir> <buckets>: one build as kgbench bulk_load runs it
  def main(a: Array[String]): Unit = {
    val spark = graft.kg.Pipeline.session("hash", Some("local[4]"))
    try {
      val docs = graft.kg.NtFileSource.documents(spark, a(0))
      println(s"processed ${graft.kg.Materialize.run(spark, docs, a(1), a(2).toInt)}")
    } finally spark.stop()
  }
}
