package graft

import org.apache.spark.sql.SparkSession

/** Cost-based-optimizer enablement for the corpus (SURVEY §7.4b).
  *
  * Catalyst's CostBasedJoinReorder only fires when every joined relation
  * carries catalog statistics — temp views over bare parquet paths have
  * none, which is why the §2.3 join family hand-orders its joins and leans
  * on AQE. This module is the missing lifecycle piece: register the sfDir
  * tables as (external) catalog tables and ANALYZE them, after which
  * `spark.sql.cbo.enabled=true` + `spark.sql.cbo.joinReorder.enabled=true`
  * lets the optimizer pick the join order from row counts + column NDVs
  * instead of trusting the query author.
  *
  * At 100 TB this is an offline step run once per corpus refresh (the exact
  * analog of the ANN index build): ANALYZE scans each table once and stores
  * rowCount/sizeInBytes plus per-column min/max/NDV/null-count in the
  * catalog; every subsequent query planning is driver-side lookup only.
  */
object Stats {
  /** Star-schema tables that participate in multi-way joins. */
  val JoinTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Register sfDir parquet as external catalog tables under `db`.
    * Idempotent; safe to re-point at a different sfDir (tables are
    * dropped/recreated, location-only — no data copy).
    */
  def registerCatalog(spark: SparkSession, sfDir: String,
                      db: String = "graft_stats",
                      tables: Seq[String] = JoinTables): Unit = {
    // Identifiers and the LOCATION literal are interpolated into SQL text;
    // reject anything that would escape its quoting context rather than
    // attempting dialect-specific escaping (internal tooling — loud > clever).
    require(db.matches("[A-Za-z0-9_]+"), s"unsafe database name: $db")
    require(!sfDir.contains("'"), s"unsafe path (single quote): $sfDir")
    tables.foreach(t =>
      require(t.matches("[A-Za-z0-9_]+"), s"unsafe table name: $t"))
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $db.$t")
      spark.sql(s"CREATE TABLE $db.$t USING parquet LOCATION '$sfDir/$t.parquet'")
    }
  }

  /** ANALYZE every registered table: table-level rowCount/size plus
    * per-column min/max/NDV — the inputs CostBasedJoinReorder's cardinality
    * estimation needs.
    */
  def analyze(spark: SparkSession, db: String = "graft_stats",
              tables: Seq[String] = JoinTables): Unit =
    tables.foreach { t =>
      spark.sql(s"ANALYZE TABLE $db.$t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
}
