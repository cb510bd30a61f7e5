package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, LongType, StructType, TimestampNTZType, TimestampType}

/** Table loaders + the cross-engine determinism helpers from SURVEY.md §7.3.
  *
  * Policy (hash-match survival kit):
  *   - 2dp-exact money/rate doubles are cast to DECIMAL(18,2) at first touch
  *     so every aggregation is order-independent exact decimal arithmetic.
  *   - Averages are computed as exact integer cents divided once in IEEE
  *     double space (bigint < 2^53 -> double is exact; a single division is
  *     correctly rounded and identical across engines).
  *   - Dates via to_date; events.ts normalized to µs instants from
  *     whichever physical parquet encoding the corpus generation used
  *     (ns-as-long or µs NTZ — see normalizeEventTs).
  */
object Tables {
  /** The corpus's embedding dimension — the ONE place it is stated.
    * Every vector path (LlmOps quantize guard + its oracle `range(dim)`
    * twins, AnnIvf's embedding dedup) derives from this constant, so a
    * corpus with a different dim (e.g. 128) is a one-line change here.
    */
  val EmbeddingDim = 64

  /** Reads with the table's memoized schema: inference runs a Spark job
    * (~25 ms on the driver) per read, the memo once per table per JVM.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    tableKey(spark, path) match {
      case Some(key) =>
        spark.read.schema(schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema))
          .parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** What a table's inferred schema depends on: its path, each data file's
    * path, size and modification time (a rewrite in place changes them),
    * and the nanos-as-long conf that decides how TIMESTAMP(NANOS) reads.
    * None when the path cannot be listed; the read then infers as usual.
    */
  private def tableKey(spark: SparkSession, path: String): Option[String] = scala.util.Try {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: the located statuses listFiles builds ask
    // the local file system for each file's owner and permissions, which
    // it answers by running a process per file.
    def files(p: org.apache.hadoop.fs.Path): Seq[String] = fs.listStatus(p).toSeq
      .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
      .flatMap(f =>
        if (f.isDirectory) files(f.getPath)
        else Seq(s"${f.getPath}:${f.getLen}:${f.getModificationTime}"))
    val nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    (Seq(path, nanos) ++ files(root).sorted).mkString("\n")
  }.toOption

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events.ts has shipped under TWO physical parquet encodings across
    * driver corpus generations:
    *
    *   - TIMESTAMP(NANOS): Spark 4 rejects it unless
    *     `spark.sql.legacy.parquet.nanosAsLong=true`, under which the
    *     column surfaces as a nanos BIGINT — we floor ns->us exactly like
    *     DuckDB's read does.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): surfaces as
    *     TIMESTAMP_NTZ — under the library's pinned UTC session timezone
    *     a cast to TIMESTAMP is the identity wall-clock->instant mapping
    *     DuckDB's epoch_us/epoch_ms apply.
    *
    * `normalizeEventTs` branches on the READ dtype instead of hardcoding
    * one encoding (round-8 lesson: the corpus regenerated ns->us and every
    * events query died at analysis). CorpusSchemaSpec is the canary that
    * fails first, by name, if a third encoding ever appears.
    *
    * The SUPPORTED construction contract is `Sessions.build` (it sets the
    * legacy flag at session construction, before any read). The conf.set
    * below is only a FALLBACK for host sessions that bypassed Sessions —
    * a defensive IDEMPOTENT set of the same constant (never a different
    * value, so no order-dependence). It is session-visible (the host's
    * later TIMESTAMP(NANOS) reads surface as longs instead of erroring);
    * a host that wants those errors builds via Sessions-style config and
    * simply does not call this loader — the alternative here would be a
    * hard failure of every events-backed query.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(s, d, "events"))
  }

  /** Normalize an events-shaped frame's `ts` to session-UTC TimestampType
    * (µs instants) from whichever physical encoding the corpus carries.
    * Shared by the batch loader and the streaming file source so the two
    * read paths cannot drift.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType    => df
    case other => throw new IllegalStateException(
      s"events.ts: unsupported physical encoding read as $other — extend Tables.normalizeEventTs")
  }

  /** The READ dtype of `ts` in an events parquet dir (footer-only probe:
    * schema inference touches one file's metadata, not data — safe at any
    * scale). Used to pin the mandatory explicit readStream schema to the
    * corpus's actual encoding.
    */
  def eventsTsPhysicalType(s: SparkSession, dir: String): DataType = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(dir).schema("ts").dataType
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** 2dp-exact double -> exact decimal. INTERNAL ONLY — decimal types must
    * never reach a final oracle-compared schema (the driver's hasher renders
    * Spark parquet decimals and DuckDB DECIMAL/HUGEINT differently even when
    * values match, round-1 lesson). Final schemas carry only
    * BIGINT / DOUBLE / STRING / DATE / TIMESTAMP.
    */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** 2dp-exact double -> exact integer cents (bigint). */
  def cents(c: Column): Column = (dec2(c) * lit(100)).cast(LongType)

  /** price*(1-disc) in 1e-4 currency units, exact bigint:
    * cents(price) * (100 - cents(disc)). Order-independent integer math.
    */
  def discE4(price: Column, disc: Column): Column =
    cents(price) * (lit(100L) - cents(disc))

  /** price*(1-disc)*(1+tax) in 1e-6 currency units, exact bigint. */
  def chargeE6(price: Column, disc: Column, tax: Column): Column =
    cents(price) * (lit(100L) - cents(disc)) * (lit(100L) + cents(tax))

  /** Deterministic cross-engine average of a 2dp-exact column:
    * sum of exact cents (bigint) divided once in double space.
    */
  def avg2(c: Column): Column =
    sum(cents(c)).cast(DoubleType) / (count(lit(1)) * lit(100)).cast(DoubleType)

  /** SQL-side twins for oracle strings. */
  val sqlCents: String => String = c => s"CAST(CAST($c AS DECIMAL(18,2))*100 AS BIGINT)"
  val sqlDiscE4: (String, String) => String = (p, d) =>
    s"${sqlCents(p)} * (100 - ${sqlCents(d)})"
  val sqlChargeE6: (String, String, String) => String = (p, d, t) =>
    s"${sqlCents(p)} * (100 - ${sqlCents(d)}) * (100 + ${sqlCents(t)})"
  val sqlAvg2: String => String = c =>
    s"CAST(SUM(${sqlCents(c)}) AS DOUBLE) / CAST(COUNT(*)*100 AS DOUBLE)"
  /** DuckDB widens SUM(BIGINT) to HUGEINT — always re-narrow in oracle SQL. */
  val sqlSumB: String => String = e => s"CAST(SUM($e) AS BIGINT)"
}

/** One §2 section of SURVEY.md = one pack. SparkEntry concatenates packs. */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]

  /** DuckDB-runnable ANSI SQL twin per oracle-checked key (subset of queries). */
  def oracle: Map[String, String]
}
