package graft.sources

import java.nio.file.{Files, Paths}

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON-lines and ORC sink/source pairs (SURVEY.md §2.1 S2/S3 widened
  * beyond the reference's CSV-only file surface, `embed/embed.go:120-126`
  * → `upsert/upsert.go:148-165`).
  *
  * A training-data pipeline's interchange reality: upstream crawls land
  * as JSON-lines, warehouse extracts as ORC — an engine claiming the
  * reference's ingest role must round-trip both without loss. Each
  * declared query writes the table through the format sink once
  * (create-if-absent into the per-dataset cache, the persisted-index
  * discipline: the bench measures the steady-state READ), reads it back
  * through the format source with an EXPLICIT schema, and returns the
  * full keyed rows — the oracle is the identity query over the original
  * parquet, so the driver's hash compare proves byte-level fidelity of
  * the whole write→read cycle, not just a row count.
  *
  * Scale shape: both sinks write one part-file per input partition in
  * parallel (no coalesce — a 100 TB export wants every executor
  * writing); both sources give Spark's splittable line/stripe readers,
  * so the read back is as parallel as the parquet scan it mirrors.
  * Schema is declared, never inferred — inference is a second full pass
  * over the data and nondeterministic under sampling at scale.
  *
  * Fidelity notes, per format:
  *  - JSON-lines: longs and strings round-trip exactly (control
  *    characters escape per RFC 8259); null fields are dropped on write
  *    and resurface as nulls under the declared read schema. Read mode
  *    is FAILFAST — a corrupt line must fail the roundtrip, not slip
  *    through as a row of nulls (PERMISSIVE would, and a hash gate
  *    should fail loudly before it fails cryptically).
  *  - ORC: timestamps (micros), doubles, and varchars are stored
  *    natively — bit-exact round-trip, no format-string precision loss
  *    (contrast the reference's `%f` CSV sink losing everything past 6
  *    decimals on every row, `embed/embed.go:144`).
  */
object FormatRoundtrip {

  /** Bump when the on-disk layout of either sink changes. */
  private val Version = "v1"

  /** The on-disk home of a named export under the per-dataset cache —
    * one definition shared with the specs so the layout is pinned in one
    * place. */
  private[sources] def exportPath(dir: String, name: String) =
    Paths.get(IndexCatalog.cacheBase(dir), s"fmt-$name-$Version")

  /** Write through `write` once per dataset, via
    * [[Maintenance.publishIfAbsent]]: the closure writes into a UNIQUE
    * staging directory which is atomically renamed to `data` — so
    * multi-step writers (schemaEvolution's overwrite-then-append) are
    * safe under concurrent builders: interleaved steps can never land in
    * the published directory, only one complete staging dir wins the
    * rename, and the loser discards its own. The `_ok` marker is
    * created only after the rename (the IndexCatalog descriptor
    * discipline — a killed export leaves no marker and the next run
    * rewrites). Returns the data path. */
  private def exportOnce(dir: String, name: String,
                         write: String => Unit): String = {
    val base = exportPath(dir, name)
    val data = base.resolve("data")
    val ok = base.resolve("_ok")
    if (!Files.exists(ok)) {
      Maintenance.publishIfAbsent(data)(write)
      Files.writeString(ok, "ok")
    }
    data.toString
  }

  private[sources] val DocumentsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val EventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Q-json-roundtrip: documents → JSON-lines sink → JSON source → full
    * rows. Hash-gated against the identity query on the original
    * parquet: every doc_id, every code point of every text, lang,
    * source, and count must survive the export cycle. */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = exportOnce(dir, "json",
      p => Tables.documents(spark, dir).write.mode("overwrite").json(p))
    spark.read.schema(DocumentsSchema).option("mode", "FAILFAST").json(path)
      .orderBy(col("doc_id"))
  }

  /** Q-orc-roundtrip: events → ORC sink → ORC source → full rows.
    * Hash-gated on timestamps at micro precision, IEEE doubles, and the
    * raw props JSON strings — the columnar-interchange counterpart of
    * the JSON text path. The timestamp rides the whole cycle as a native
    * ORC timestamp; only the final presentation converts to epoch micros
    * (the established oracle convention — DuckDB surfaces the parquet
    * nanos as TIMESTAMP_NS, a different type CLASS than the
    * roundtripped micros, so a raw timestamp column would trip the
    * schema compare even with identical instants). */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = exportOnce(dir, "orc",
      p => Tables.events(spark, dir).write.mode("overwrite").orc(p))
    spark.read.schema(EventsSchema).orc(path)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .orderBy(col("event_id"))
  }

  /** Q-schema-evolution: reading a parquet lake whose files carry
    * EVOLVING schemas — the steady-state reality of any long-lived
    * table (a column added in week 30 exists only in files written
    * since). Two batches land under one path: the early files carry
    * (doc_id, lang), the later ones also `n_chars`. The declared read
    * uses an EXPLICIT superset schema — Spark's parquet reader fills
    * columns absent from a file's footer with null per-file, costing
    * nothing at any scale — NOT `mergeSchema`, which reconciles by
    * reading every footer in the path (a listing-plus-IO pass over
    * every file of a 100 TB table before the first row is scanned;
    * fine as a one-off migration probe, wrong as the steady-state
    * read). FormatRoundtripSpec pins both reads equal; the oracle
    * derives the same frame from the original table. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val path = exportOnce(dir, "evolve", { p =>
      // the split scalar is only needed while WRITING — resolving it here
      // keeps the warm steady-state read free of the extra max() job
      val split = evolutionSplit(spark, dir)
      docs.filter(col("doc_id") < split)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(p)
      docs.filter(col("doc_id") >= split)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("append").parquet(p)
    })
    spark.read.schema(EvolvedSchema).parquet(path)
      .orderBy(col("doc_id"))
  }

  /** doc_ids below the split wrote the narrow pre-evolution schema —
    * half the id domain, derived not fixed (the q_scd2 lesson: a
    * constant silently empties one batch when the id domain is smaller
    * than it). One scalar off a parquet-footer-countable aggregate:
    * bounded driver metadata. */
  private[sources] def evolutionSplit(spark: SparkSession, dir: String): Long =
    Tables.documents(spark, dir)
      .agg(expr("(max(doc_id) + 1) div 2").as("s")).head().getLong(0)

  private[sources] val EvolvedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("n_chars", LongType)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_json_roundtrip" -> (jsonRoundtrip _),
    "q_orc_roundtrip" -> (orcRoundtrip _),
    "q_schema_evolution" -> (schemaEvolution _))

  def oracles: Map[String, String] = Map(
    "q_json_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_orc_roundtrip" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        |       value, props
        |FROM events ORDER BY event_id""".stripMargin,
    "q_schema_evolution" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id >= (SELECT (MAX(doc_id) + 1) // 2 FROM documents)
        |       THEN n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin)
}
