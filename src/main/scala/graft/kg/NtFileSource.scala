package graft.kg

import java.nio.charset.{Charset, StandardCharsets}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * A1-A3: file-based corpus ingestion.
 *
 * The reference's Loader opens a file (with classpath-resource fallback),
 * sniffs gzip/bzip2 magic bytes for transparent decompression, and decodes
 * UTF-8 lines (Loader.scala:31-57,76-129). Spark-native equivalents:
 *
 *  - `spark.read.textFile` already does distributed line splitting AND
 *    transparent `.gz`/`.bz2` decompression through the Hadoop codec
 *    factory (suffix-driven rather than magic-byte-driven — same formats);
 *  - `input_file_name()` supplies the per-file provenance the reference
 *    got from its caller.
 *
 * Two ingestion shapes:
 *  - `documents` (and `documentsWithCharset`): one CorpusRow per FILE
 *    (content = whole file), whose parsed rows carry the file's line
 *    numbers — matches the table-input contract; fine for source files
 *    (<= a few MB each);
 *  - `parseLines`: one parsed row per text line — the scalable shape for
 *    huge single files, since Spark splits uncompressed/bzip2 text by
 *    range while a whole-file read cannot be split. Each line is parsed
 *    as a one-line document, so every row carries `line = 1`; the file
 *    line number is not recovered.
 */
object NtFileSource {

  /**
   * One CorpusRow per file under `pathGlob` (supports .nt, .nt.gz, .nt.bz2).
   * The glob is expanded and its files listed on the driver, with no Spark
   * job, up to the session's `parallelPartitionDiscovery.threshold` paths
   * (1024 in [[Pipeline.session]]); the files are read by the first action.
   */
  def documents(spark: SparkSession, pathGlob: String, repo: String = "files",
                commit: String = Corpus.FixedCommit,
                lang: String = TripleExtract.LangStrict): Dataset[CorpusRow] = {
    import spark.implicits._
    // wholetext keeps one row per file; codec decompression is automatic
    spark.read.option("wholetext", "true").text(pathGlob)
      .select(
        lit(repo).as("repo"),
        input_file_name().as("path"),
        lit(commit).as("commit"),
        lit(lang).as("lang"),
        col("value").as("content"))
      .as[CorpusRow]
  }

  /**
   * A5 codec parity: the reference's Loader accepts arbitrary charsets
   * (Loader.scala:34-44). Reads each file's raw bytes (binaryFile, no
   * decompression). UTF-8, under any of its names, is cast to a string
   * without decoding, so malformed UTF-8 becomes the parse generator's
   * per-window error rows exactly as through `documents`. Any other
   * charset goes through the built-in `decode`, for which malformed input
   * fails the job with Spark's MALFORMED_CHARACTER_CODING error (a
   * single-byte charset such as ISO-8859-1 has no malformed input).
   */
  def documentsWithCharset(spark: SparkSession, pathGlob: String, charset: String,
                           repo: String = "files",
                           commit: String = Corpus.FixedCommit,
                           lang: String = TripleExtract.LangStrict): Dataset[CorpusRow] = {
    import spark.implicits._
    val utf8 = scala.util.Try(Charset.forName(charset)).toOption.contains(StandardCharsets.UTF_8)
    spark.read.format("binaryFile").load(pathGlob)
      .select(
        lit(repo).as("repo"),
        col("path"),
        lit(commit).as("commit"),
        lit(lang).as("lang"),
        (if (utf8) col("content").cast("string") else decode(col("content"), charset))
          .as("content"))
      .as[CorpusRow]
  }

  /**
   * One parsed line per row for very large files: text splitting is done
   * by Spark (range-splittable for uncompressed input) and each text row
   * runs through the same ParseNtLines generator as `TripleExtract.parse`.
   * A row is a one-line document, so every parsed row carries `line = 1`
   * and error messages say "in line 1"; the file line number is not
   * recovered (use `documents` + `TripleExtract.parse` when it matters).
   * Lenient multi-line long literals cannot span rows here.
   */
  def parseLines(spark: SparkSession, pathGlob: String,
                 lang: String = TripleExtract.LangStrict): Dataset[ParsedLine] = {
    import spark.implicits._
    TripleExtract.parseExpr(spark.read.text(pathGlob).select(
      lit("files").as("repo"),
      input_file_name().as("path"),
      lit(Corpus.FixedCommit).as("commit"),
      lit(lang).as("lang"),
      col("value").as("content"))).as[ParsedLine]
  }
}
