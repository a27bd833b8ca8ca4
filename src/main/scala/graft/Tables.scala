package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema'd loaders for the driver-generated corpus (TESTDATA.md).
  *
  * Mirrors the reference's ingestion stage — per-dataset parquet reads
  * (cf. /root/reference/source_data/datasets/&#42;/train.parquet) — as
  * plain `spark.read.parquet` scans so Catalyst gets pushdown/pruning.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Catalog-style schema cache for the immutable corpus tables.
    *
    * `spark.read.parquet(path)` without a schema pays footer-based
    * schema inference plus a directory listing on EVERY call —
    * measured 55 ms per construction vs 4.6 ms with an explicit
    * schema (tools/ReadProbe, sf0.1) — and the bench sweep constructs
    * each table read afresh per query (~2 reads × 321 queries × 50 ms
    * ≈ 30 s of pure driver inference per pass). A metastore-backed
    * table never re-infers: the catalog serves the schema and the
    * scan plans straight from it. This map IS that catalog surface
    * for the path-read corpus: metadata only (a StructType keyed by
    * path), never rows — every query still computes entirely from
    * the parquet inputs. Correct because the corpus files are
    * immutable for the life of a JVM (regenerations land under new
    * sfDirs); the nanosAsLong flag callers set before `t()` is set
    * before the FIRST inference too, so the cached schema is the one
    * inference would return on every call. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]

  /** The catalog surface, public for every other immutable-path read
    * in the engine (vendor/reference parquet, stable pipeline sinks):
    * infer the schema once per JVM per path, serve it explicitly ever
    * after. Callers that ever rewrite a path IN PLACE with a different
    * schema must [[invalidateSchema]] first — an explicit-schema read
    * of a changed file silently yields nulls for renamed columns
    * instead of failing (r19 ADVICE), so the hook exists to make such
    * rewrites loud. The corpus and reference files are immutable per
    * JVM; the pipeline sinks that re-land per invocation
    * (`IncrementalRunner`, `ModelArtifacts`) invalidate on every write.
    *
    * `mergeSchema` infers the union of every file's footer instead of
    * the first file's: for a partitioned path whose slices are
    * re-landed one at a time, where the first file by path can still
    * carry an older, narrower schema. */
  def schemaFor(spark: SparkSession, path: String,
      mergeSchema: Boolean = false): org.apache.spark.sql.types.StructType =
    schemaCache.computeIfAbsent(path, _ =>
      (if (mergeSchema) spark.read.option("mergeSchema", "true")
       else spark.read).parquet(path).schema)

  /** Drop one cached schema (call before re-reading a path rewritten
    * with a DIFFERENT schema) — the r19 ADVICE invalidation hook. */
  def invalidateSchema(path: String): Unit = schemaCache.remove(path)

  /** Drop every cached schema (test isolation hook). */
  def clearSchemaCache(): Unit = schemaCache.clear()

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    spark.read.schema(schemaFor(spark, p)).parquet(p)
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  /** The relational date columns carry the same corpus-regeneration
    * drift risk that broke events at round 8 — guard them too, but
    * canonicalize to TIMESTAMP_NTZ (their current physical encoding
    * AND the dq_schema contract), so today's outputs are bit-for-bit
    * unchanged. */
  def orders(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTsNtz(t(s, d, "orders"), "o_orderdate")
  }
  def lineitem(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTsNtz(t(s, d, "lineitem"), "l_shipdate")
  }
  /** The corpus has shipped `events.ts` under two physical parquet
    * encodings so far — TIMESTAMP(NANOS) (readable only as int64 via
    * the legacy flag) and plain TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ under Spark 4's NTZ inference). Mirror the
    * reference's pandas ingestion, which reads either transparently:
    * branch on the ACTUAL loaded type and canonicalize to one
    * session-TZ TimestampType (sessions run UTC, so NTZ wall-clocks
    * map to identical instants — same values DuckDB's
    * CAST(ts AS TIMESTAMP) yields on both encodings). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(s, d, "events"))
  }

  /** Canonicalize a timestamp-ish column to TimestampType whatever the
    * file gave us: int64 nanos → truncate to micros; NTZ → reinterpret
    * in the (UTC) session zone; already-TIMESTAMP → untouched. */
  def normalizeTs(df: DataFrame, name: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    df.schema(name).dataType match {
      case LongType =>
        df.withColumn(name, expr(s"timestamp_micros($name div 1000)"))
      case TimestampNTZType =>
        // NTZ -> TimestampType is only value-preserving when the session
        // zone is UTC; enforce it HERE (where the invariant is relied
        // on) so a future entry point that forgets to set UTC fails
        // loudly instead of silently shifting every instant.
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"normalizeTs requires spark.sql.session.timeZone=UTC (got $tz)")
        df.withColumn(name, col(name).cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"unsupported physical type for '$name': $other")
    }
  }
  /** [[normalizeTs]] to TIMESTAMP_NTZ instead — for columns whose
    * canonical type (and schema contract) is NTZ. Wall clocks are
    * preserved in every branch (sessions run UTC). */
  def normalizeTsNtz(df: DataFrame, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    df.schema(name).dataType match {
      case LongType =>
        df.withColumn(name,
          expr(s"timestamp_micros($name div 1000)").cast(TimestampNTZType))
      case TimestampType =>
        df.withColumn(name, col(name).cast(TimestampNTZType))
      case TimestampNTZType => df
      case other => throw new IllegalStateException(
        s"unsupported physical type for '$name': $other")
    }
  }

  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
