package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Share

/**
 * E6-E9: graph materialization with skew handling, per-partition
 * checkpoint/resume and metrics.
 *
 * Output layout under `outDir` (parquet tables; the writer is kept behind
 * this one object so swapping in a real Iceberg catalog is a config
 * change — the sandbox ships no Iceberg jars, see SURVEY.md §7):
 *
 *   staging/   bucket=K/err=B/...   one pass of the parse kernel, the
 *                                   resumable unit of work
 *   nodes/                          distinct terms: id, kind, value, lang, dt
 *   edges/                          subj_id, pred, obj_id + lineage; AQE
 *                                   sizes the files (see saltedRepartition)
 *   metrics/   bucket=K/...         per-document lineage + counts + sha256,
 *                                   one file per bucket
 *   manifest/  bucket=K/...         per-bucket checkpoint rows (n_docs)
 *
 * Resume contract (E8): work is sharded into `buckets` by a hash of the
 * document identity (repo, path, commit). A bucket appears in `manifest`
 * only after its staging output is fully written, so a crashed/killed job
 * re-runs exactly the missing buckets: the corpus is anti-joined against
 * the manifest before any parsing happens. The partitioned writes
 * (staging, metrics, manifest) use dynamic partition overwrite, making a
 * re-run of a half-written bucket idempotent; it is a write option, so
 * the caller's session keeps its own `partitionOverwriteMode`.
 *
 * A run reads the corpus twice: once for one digest row per todo
 * document (repo, path, commit, content_sha256, bucket), shared with
 * [[graft.Share]], from which come both the manifest counts and the
 * metrics; and once to parse the todo documents. A lost digest block fails
 * the metrics write, which comes before the manifest commit, so a resume
 * re-runs those buckets.
 */
object Materialize {

  /** Deterministic work-shard id for a document row. */
  def bucketOf(buckets: Int): Column =
    pmod(xxhash64(col("repo"), col("path"), col("commit")), lit(buckets.toLong))

  /**
   * Schema of the staging table as [[readStaging]] returns it: the parse
   * kernel's flat columns (see [[TripleExtract.parseExpr]]) in file order,
   * then the `bucket`/`err` partition columns. Columns read from parquet
   * are always nullable.
   */
  val StagingSchema: StructType = StructType(Seq(
    StructField("repo", StringType),
    StructField("path", StringType),
    StructField("commit", StringType),
    StructField("line", IntegerType),
    StructField("skind", ByteType),
    StructField("subj", StringType),
    StructField("pred", StringType),
    StructField("okind", ByteType),
    StructField("obj", StringType),
    StructField("lang", StringType),
    StructField("dt", StringType),
    StructField("charPos", IntegerType),
    StructField("message", StringType),
    StructField("bucket", LongType),
    StructField("err", BooleanType)))

  /** Schema of the manifest table: one row per committed bucket. */
  private val ManifestSchema: StructType = StructType(Seq(
    StructField("n_docs", LongType),
    StructField("bucket", LongType)))

  /**
   * Read the staging table back with its known schema. Naming the schema
   * skips the parquet schema-inference job a plain `spark.read.parquet`
   * runs, and types the `bucket=K/err=B` directory values directly:
   * partition-column inference has no boolean case (it would hand `err`
   * back as a string) and would type `bucket` as int.
   */
  def readStaging(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(StagingSchema).parquet(s"$outDir/staging")

  /**
   * E6: salted repartition to break hot-key skew. Hash-partitions on
   * (key, salt) so a hub key spreads over `salts` partitions instead of
   * one, while small keys keep near-locality. AQE skew-join handling is
   * also enabled session-wide (see Pipeline.session).
   *
   * With `numPartitions = None` the exchange is a repartition-by-columns,
   * which AQE may coalesce: AQE then sizes the output (a small table
   * becomes one file, not `spark.sql.shuffle.partitions` tiny ones) and
   * the salt only spreads hot keys across the partitions AQE keeps. A
   * pinned count is a repartition-by-number, which AQE never coalesces.
   *
   * The salt MUST be deterministic per row: deriving it from
   * spark_partition_id()/monotonically_increasing_id() means a task retry
   * after a shuffle fetch failure recomputes map output with a DIFFERENT
   * row-to-partition mapping (SPARK-23207 class), silently losing or
   * duplicating rows on a real cluster. `saltFrom` names row-identity
   * columns (e.g. lineage repo/path/commit/line) whose hash spreads a hot
   * `key` uniformly yet reproducibly across retries.
   */
  def saltedRepartition(df: DataFrame, key: Column, saltFrom: Seq[Column],
                        salts: Int, numPartitions: Option[Int] = None): DataFrame = {
    val salt = pmod(xxhash64(saltFrom: _*), lit(salts.toLong))
    val withSalt = df.withColumn("__salt", salt)
    val spread = numPartitions match {
      case Some(n) => withSalt.repartition(n, key, col("__salt"))
      case None => withSalt.repartition(key, col("__salt"))
    }
    spread.drop("__salt")
  }

  /** [[saltedRepartition]] into exactly `numPartitions` partitions. */
  def saltedRepartition(df: DataFrame, key: Column, saltFrom: Seq[Column],
                        salts: Int, numPartitions: Int): DataFrame =
    saltedRepartition(df, key, saltFrom, salts, Some(numPartitions))

  /** Distinct nodes table from a (skolemized, canonicalized) triples frame.
    *
    * r7: DISTINCT-BEFORE-HASH — the dedup runs on the raw term tuple and
    * the sha256 id is computed only for the SURVIVORS. The id is a pure
    * function of the tuple and n3 is unambiguous for parser-produced
    * terms (lang tags are charset-validated, datatype IRIs cannot contain
    * `<`/`>`, literals always carry a datatype), so distinct-on-term ==
    * distinct-on-id row for row. Saves one sha256 per DUPLICATE term
    * occurrence (the bulk of a real corpus) and drops the 64-hex id from
    * the dedup shuffle (guide §2.3: shuffle fewer bytes). The shuffle key
    * (term tuple) hashes as uniformly as the digest did. */
  def nodes(triples: DataFrame): DataFrame = {
    // ONE pass over the triples (r7): the old subj/obj/pred three-way
    // union scanned the triples relation three times — at materialization
    // scale that is three reads of the staged corpus. The explode emits
    // the same three terms per triple from a single scan; same multiset,
    // same distinct.
    val predTerm = struct(lit(RdfTerm.IRI).cast("byte").as("kind"),
      col("pred").as("value"),
      lit(null).cast("string").as("lang"), lit(null).cast("string").as("dt"))
    triples
      .select(explode(array(col("subj"), col("obj"), predTerm)).as("t"))
      .select(col("t.kind").as("kind"), col("t.value").as("value"),
        col("t.lang").as("lang"), col("t.dt").as("dt"))
      .dropDuplicates("kind", "value", "lang", "dt")
      .select(
        Canonicalize.nodeId(
          struct(col("kind"), col("value"), col("lang"), col("dt"))).as("id"),
        col("kind"), col("value"), col("lang"), col("dt"))
  }

  /** Edges table: (subj_id, pred, obj_id) + lineage. Narrow transform. */
  def edges(triples: DataFrame): DataFrame =
    triples.select(
      Canonicalize.nodeId(col("subj")).as("subj_id"),
      col("pred"),
      Canonicalize.nodeId(col("obj")).as("obj_id"),
      col("repo"), col("path"), col("commit"), col("line"))

  /** Quad view: [[edges]] plus a `graph` column — a RAW graph IRI
    * (`urn:graph:<repo>`) derived from the repo lineage, the column the
    * SPARQL `GRAPH` surface constrains/binds. Raw like the pred column
    * (the same IRI value space), never hashed, so a constant graph is a
    * pushed string-equality on the scan and `GRAPH ?g` bindings join/
    * compare consistently with predicate bindings. Narrow transform. */
  def quads(edgesDf: DataFrame): DataFrame =
    edgesDf.withColumn("graph", concat(lit("urn:graph:"), col("repo")))

  /**
   * Property-table pivot: the edges (subj_id, pred, obj_id) long format
   * -> ONE WIDE ROW PER SUBJECT with a column per requested predicate —
   * the "KG to ML feature table" step (and the physical layout RDF
   * stores call a property table). Multi-valued predicates keep the
   * MINIMUM object id: deterministic, engine-independent (a bare
   * `first()` would depend on partition order and could never be
   * hash-checked — same reasoning as the scaled-integer PageRank).
   *
   * Scale shape: predicates are projected to conditional-aggregate
   * columns BEFORE the aggregate, so the shuffle carries exactly one
   * (subj_id, k columns) row per input edge and combines map-side; one
   * shuffle total, keyed on the uniformly-distributed sha256 subject.
   * The predicate list is an explicit argument (vocabulary-sized, known
   * to the pipeline author) — never inferred with a driver-side
   * distinct-collect over the corpus.
   */
  def propertyTable(edgesDf: DataFrame, preds: Seq[String]): DataFrame = {
    require(preds.nonEmpty, "propertyTable: empty predicate list")
    val aggs = preds.map(p =>
      min(when(col("pred") === lit(p), col("obj_id"))).as(p))
    edgesDf.groupBy(col("subj_id")).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Multi-valued property-table pivot: like [[propertyTable]] but a
   * repeated predicate keeps ALL its objects as a SORTED-DISTINCT array
   * column — what real KG property tables need for genuinely repeated
   * predicates (rdf:type, skos:altLabel). sort_array(collect_set(...))
   * is the deterministic, engine-independent rendering (set semantics +
   * total order), for the same reason propertyTable takes min: a bare
   * collect_list would depend on partition order and could never be
   * hash-checked.
   *
   * Scale shape: same single shuffle on subj_id with map-side partial
   * aggregation (ObjectHashAggregate for collect_set); per-subject state
   * is O(distinct objects of the requested predicates) — bounded by the
   * real data multiplicity, which is exactly what the caller asked to
   * materialize. A subject with pathological fan-out (a hub literal)
   * belongs in [[propertyTable]] or behind a pre-filter, not here.
   */
  def propertyTableMulti(edgesDf: DataFrame, preds: Seq[String]): DataFrame = {
    require(preds.nonEmpty, "propertyTableMulti: empty predicate list")
    val aggs = preds.map(p =>
      sort_array(collect_set(when(col("pred") === lit(p), col("obj_id")))).as(p))
    edgesDf.groupBy(col("subj_id")).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * E7+: bucketed (hash-clustered, sorted) edges table in the session
   * catalog. Bucketing on subj_id means every downstream self-join /
   * graph-traversal join on subject is SHUFFLE-FREE (bucket pruning +
   * sort-merge without Exchange) — at 100 TB this converts the dominant
   * repeated traversal shuffles into one write-time clustering. With a
   * real Iceberg catalog this maps to `bucket(N, subj_id)` partition
   * transforms.
   */
  def saveBucketedEdges(edgesDf: DataFrame, table: String, buckets: Int = 64): Unit =
    edgesDf.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "subj_id").sortBy("subj_id")
      .format("parquet").saveAsTable(table)

  /**
   * Small-file compaction for an (unpartitioned) parquet table directory
   * — the Iceberg `rewrite_data_files` maintenance action, emulated on
   * the plain-parquet seam. Small files are the silent scan killer at
   * 100 TB (one footer read + one task per file, metadata pressure), and
   * resumable bucket-at-a-time jobs produce them by design; compaction
   * rewrites the table into ceil(totalBytes / targetFileBytes) files.
   * Crash safety: the rewrite lands in a temp dir first, then swaps via
   * rename — at every instant a complete copy of the data exists on
   * disk (a crash can leave a *.compact_tmp / *.compact_old dir to
   * sweep, never a half table). With a real Iceberg catalog this whole
   * method is `CALL rewrite_data_files(...)` and the swap is a snapshot
   * commit. Returns the new file count.
   */
  def compact(spark: SparkSession, tableDir: String,
              targetFileBytes: Long = 128L << 20): Int = {
    val path = new org.apache.hadoop.fs.Path(tableDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total = fs.getContentSummary(path).getLength
    val nFiles = math.max(1, math.ceil(total.toDouble / targetFileBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(tableDir + ".compact_tmp")
    val old = new org.apache.hadoop.fs.Path(tableDir + ".compact_old")
    fs.delete(tmp, true)
    fs.delete(old, true)
    spark.read.parquet(tableDir).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // Hadoop FileSystem.rename reports most failures by RETURNING FALSE
    // (it rarely throws); an unchecked false here would corrupt the swap
    // — the second rename would nest tmp INSIDE the still-present table
    // dir — while compact() reports success. Fail loudly instead; a crash
    // between the renames leaves the full copy at *.compact_old for a
    // manual sweep (documented above).
    if (!fs.rename(path, old))
      throw new java.io.IOException(s"compact: rename $path -> $old failed; table unchanged")
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(
        s"compact: rename $tmp -> $path failed; complete copy preserved at $old")
    fs.delete(old, true)
    nFiles
  }

  /**
   * E9: per-document metrics with lineage and the content sha256
   * invariant (BASELINE.json: per-row `sha256(content)` equality is
   * carried next to the counts so any downstream consumer can audit that
   * the bytes parsed are the bytes shipped).
   */
  def metrics(corpus: DataFrame, parsed: DataFrame): DataFrame =
    countsJoin(digests(corpus), parsed)

  /** One row per document, its content replaced by the content sha256;
    * `keep` columns ride along after it. */
  private def digests(docs: DataFrame, keep: Column*): DataFrame =
    docs.select(Seq(col("repo"), col("path"), col("commit"),
      sha2(col("content"), 256).as("content_sha256")) ++ keep: _*)

  /** Each [[digests]] row with its document's triple and error counts
    * in `parsed` (0 and 0 for a document that parsed to no rows). */
  private def countsJoin(digestRows: DataFrame, parsed: DataFrame): DataFrame = {
    val counts = parsed.groupBy("repo", "path", "commit").agg(
      sum(when(!col("err"), 1L).otherwise(0L)).as("n_triples"),
      sum(when(col("err"), 1L).otherwise(0L)).as("n_errors"))
    digestRows.join(counts, Seq("repo", "path", "commit"), "left")
      .na.fill(0L, Seq("n_triples", "n_errors"))
  }

  /**
   * The committed manifest rows (n_docs, bucket), read with their known
   * schema, so no schema-inference job runs. Only a manifest that was
   * never committed reads as "nothing done": a missing directory, or one
   * holding nothing but hidden entries such as the `_temporary` dir of a
   * write that died before its commit (the parquet reader skips those,
   * so it finds no file). Any other failure, such as a corrupt file or a
   * `bucket=` directory that is not a number, fails the caller rather
   * than silently re-running every bucket.
   */
  def readManifest(spark: SparkSession, manifestPath: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(manifestPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) spark.read.schema(ManifestSchema).parquet(manifestPath)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), ManifestSchema)
  }

  /**
   * Full materialization run with resume. Returns the number of buckets
   * actually processed in this invocation (0 == nothing left to do).
   */
  def run(spark: SparkSession, corpus: Dataset[CorpusRow], outDir: String,
          buckets: Int = 64, strict: Boolean = false): Int = {
    import spark.implicits._

    val withBucket = corpus.toDF().withColumn("bucket", bucketOf(buckets))
    val manifestPath = s"$outDir/manifest"
    val done = readManifest(spark, manifestPath).select("bucket")

    // one digest row per todo document, shared: its per-bucket counts ARE
    // the manifest rows this run commits (<= `buckets` rows, collected
    // here), and the metrics write reads it instead of the corpus
    val todo = withBucket.join(broadcast(done), Seq("bucket"), "left_anti")
    val todoDigests = Share(digests(todo, col("bucket")))
    val todoCounts = todoDigests.groupBy("bucket").agg(count(lit(1)).as("n_docs"))
      .as[(Long, Long)].collect()
    if (todoCounts.isEmpty) return 0
    val todoBuckets = todoCounts.map(_._1).sorted

    // ---- parse (single pass) -> staging, partitioned by (bucket, err)
    // native generator path: no object-serde boundary (see ParseNtLines)
    val parsed = TripleExtract.parseExpr(todo.drop("bucket"))
      .withColumn("bucket", bucketOf(buckets))
    parsed.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket", "err")
      .parquet(s"$outDir/staging")

    if (strict) TripleExtract.failOnErrors(readStaging(spark, outDir).as[ParsedLine])

    // ---- derive graph tables from ALL staged triples (cheap vs parse)
    val staged = readStaging(spark, outDir)
    val triplesDf = Canonicalize(Skolemize(TripleExtract.assembleTriples(staged)))
    nodes(triplesDf).write.mode(SaveMode.Overwrite).parquet(s"$outDir/nodes")
    saltedRepartition(edges(triplesDf), col("subj_id"),
      saltFrom = Seq(col("repo"), col("path"), col("commit"), col("line")),
      salts = 16)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/edges")

    // ---- metrics for the documents processed in THIS run: counted from
    // the STAGED rows, not the live parse plan — re-evaluating `parsed`
    // here would parse the whole todo corpus a second time. A
    // repartition-by-bucket that AQE sizes (the edges pattern) puts each
    // bucket in one task, so each bucket is one file.
    val stagedTodo = staged.filter(col("bucket").isin(todoBuckets: _*))
    countsJoin(todoDigests, stagedTodo).repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(s"$outDir/metrics") // dynamic overwrite: idempotent on re-run

    // ---- commit the checkpoint LAST: bucket-level manifest rows
    todoCounts.toSeq.toDF("bucket", "n_docs")
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(manifestPath)

    todoBuckets.length
  }
}
