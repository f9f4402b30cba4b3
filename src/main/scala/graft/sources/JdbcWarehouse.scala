package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JDBC warehouse source — the drop-in path for the reference's embedded
  * SQL database (src/database/db_utils.py:75 opens `challenge.db` with
  * sqlite3; the tables are plain relational scans S2).
  *
  * A user holding the reference's `.db` file points this at
  * `jdbc:sqlite:/path/challenge.db` with the sqlite-jdbc driver on the
  * classpath; the bundled spec exercises the identical code path against
  * Apache Derby (shipped in Spark's jar directory), since this build
  * environment has no network access to fetch the sqlite driver.
  *
  * Scale notes: a single-connection JDBC read is one partition — fine for
  * a dimension-sized warehouse like the reference's, wrong for anything
  * big. `readTable` therefore exposes Spark's range-partitioned JDBC scan
  * (`partitionColumn`/`lowerBound`/`upperBound`/`numPartitions` → one
  * connection per partition, predicate `WHERE col BETWEEN …` pushed to the
  * database). The intended 100 TB pattern is `migrate`: land the
  * operational store into parquet once, then run everything against the
  * columnar copy — JDBC is an ingestion edge, not a query engine.
  */
object JdbcWarehouse {

  /** Range-partitioned parallel read. `partition = Some((col, lo, hi, n))`
    * splits the scan into n range predicates evaluated BY THE DATABASE;
    * None = single-partition read (small dims). */
  def readTable(
      spark: SparkSession,
      url: String,
      table: String,
      partition: Option[(String, Long, Long, Int)] = None,
      driver: Option[String] = None): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
    val withDriver = driver.fold(base)(d => base.option("driver", d))
    partition.fold(withDriver) { case (c, lo, hi, n) =>
      withDriver
        .option("partitionColumn", c)
        .option("lowerBound", lo)
        .option("upperBound", hi)
        .option("numPartitions", n)
    }.load()
  }

  /** S3/S4 over JDBC: copy each table into the parquet warehouse and
    * verify row counts — the reference's source→target copy + COUNT(*)
    * check (db_utils.py:67-102) with the source behind JDBC. */
  def migrate(
      spark: SparkSession,
      url: String,
      tables: Seq[String],
      targetDir: String,
      driver: Option[String] = None): Map[String, Long] =
    tables.map { t =>
      t -> ParquetWarehouse.writeVerified(
        readTable(spark, url, t, driver = driver), s"$targetDir/$t")
    }.toMap
}
