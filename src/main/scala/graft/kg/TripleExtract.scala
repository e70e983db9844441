package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * E2+E3: line slicing + triple extraction, one Spark route.
 *
 * The reference's whole workload is a per-line recursive-descent parse
 * driven by a lazy pull iterator (NtParser.scala:824-897). The Spark-native
 * equivalent is the ParseNtLines generator: one reusable NtBytesParser
 * per task (the reference proves parser reuse is safe,
 * NtParserRegressionSpec.scala:75-96) over each document's UTF-8 bytes,
 * rows streamed out without materializing a document's lines. `parse` is
 * the typed view of `parseExpr`, not a second kernel: both plan as one
 * GenerateExec, so every entry point gives the same rows.
 *
 * Scale/allocation notes:
 *  - narrow stage (no shuffle); partition granularity comes from the
 *    corpus scan (`spark.sql.files.maxPartitionBytes` at 100 TB);
 *  - lines are parsed IN PLACE over the content bytes (offset windows,
 *    no per-line copy) and the parser exposes term slots, so the
 *    per-triple garbage is only the term values themselves;
 *  - the kernel emits a FLAT row (ParsedLine); nested TripleRow structs
 *    are assembled afterwards with codegen'd `struct()` expressions,
 *    which is much cheaper than a nested case-class encoder;
 *  - errors ride along in the same pass (err flag) instead of a second
 *    scan.
 */
object TripleExtract {

  final val LangStrict = "nt"
  final val LangLenient = "nt-lenient"

  /** Parse a whole corpus into flat triple/error rows in a single pass:
    * the typed view of `parseExpr` (same generator, same rows). */
  def parse(corpus: Dataset[CorpusRow]): Dataset[ParsedLine] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    parseExpr(corpus.toDF()).as[ParsedLine]
  }

  /**
   * The parse as a DataFrame over any frame with `repo, path, commit,
   * lang, content` columns: the native ParseNtLines Catalyst generator,
   * so the plan has no object-serde boundary — GenerateExec streams
   * InternalRows and lineage columns are ordinary pruned projections.
   * Columns come out in ParsedLine order.
   */
  def parseExpr(corpus: DataFrame): DataFrame = {
    corpus.select(
      col("repo"), col("path"), col("commit"),
      ParseNtLines.parseNt(col("content"), col("lang")).as(Seq(
        "err", "line", "skind", "subj", "pred", "okind", "obj", "lang_", "dt",
        "charPos", "message")))
      .withColumnRenamed("lang_", "lang")
      .select("err", "repo", "path", "commit", "line", "skind", "subj", "pred",
        "okind", "obj", "lang", "dt", "charPos", "message")
  }

  /** Assemble the nested TripleRow schema from flat parsed rows. */
  def assembleTriples(flat: DataFrame): DataFrame = {
    def term(kind: Column, value: Column, lang: Column, dt: Column) =
      struct(kind.cast("byte").as("kind"), value.as("value"), lang.as("lang"), dt.as("dt"))
    flat.filter(!col("err")).select(
      term(col("skind"), col("subj"), lit(null).cast("string"), lit(null).cast("string")).as("subj"),
      col("pred"),
      term(col("okind"), col("obj"), col("lang"), col("dt")).as("obj"),
      col("repo"), col("path"), col("commit"), col("line"))
  }

  def triples(parsed: Dataset[ParsedLine]): Dataset[TripleRow] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    assembleTriples(parsed.toDF()).as[TripleRow]
  }

  def errors(parsed: Dataset[ParsedLine]): Dataset[ParseErrorRow] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed.toDF().filter(col("err"))
      .select(col("repo"), col("path"), col("commit"), col("line"),
        col("charPos"), col("message"))
      .as[ParseErrorRow]
  }

  /**
   * Strict-job gate (reference C4 semantics, StrictNtParser): fail the job
   * on the first parse error. Uses take(1), not a full count.
   */
  def failOnErrors(parsed: Dataset[ParsedLine]): Unit = {
    val firstErr = errors(parsed).take(1)
    if (firstErr.nonEmpty) {
      val e = firstErr.head
      throw new NtParseException(e.message, e.charPos,
        s"strict mode: parse error in ${e.repo}/${e.path}@${e.commit} line ${e.line}: ${e.message}")
    }
  }
}
