package graft.sources

import java.sql.DriverManager

import graft.model.EngineOut
import graft.streaming.Pipeline
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Legacy relational store (reference ops 4/5's SQLite surface,
  * db_utils.py:17-32 scan / 47-60 insert): the optional JDBC path SURVEY
  * §2.4 maps those ops to. The canonical store is parquet
  * ([[Pipeline.commitBatch]]); this adapter exists for deployments that
  * still need rows in a SQL database — tested against the Derby engine
  * that ships with Spark (in-memory URL), works against any JDBC server.
  *
  * Scale + semantics notes:
  *   - The reference opened one connection and one INSERT per row
  *     (db_utils.py:47-60); here a micro-batch is ONE `df.write.jdbc`
  *     (executors write partitions concurrently, batched statements).
  *   - foreachBatch is at-least-once, and plain JDBC append would
  *     duplicate rows on batch retry. [[writeBatch]] is the JDBC analogue
  *     of the parquet sink's batch_id partition overwrite: tag rows with
  *     batch_id, transactionally DELETE the batch's rows, then append —
  *     a retried batch replaces exactly itself (table-level idempotence).
  *   - [[readPartitioned]] is the scale path for reading a big legacy
  *     table back: predicate-ranged parallel scans via partitionColumn,
  *     not one driver-side cursor.
  */
object LegacyStore {

  /** Spark's JDBC writer interpolates the table name UNQUOTED into its DDL
    * and DML, so this module must address the same identifier the writer
    * created — quoting here would resolve to a different (case-preserved)
    * identifier on case-folding servers. Instead the name is validated
    * against the safe unquoted-identifier grammar (optionally
    * schema-qualified), which also closes the interpolation surface. */
  private val SafeIdent =
    "^[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)?$".r

  /** Append `df` tagged with batch_id, idempotently: delete any rows of a
    * previous attempt of the same batch first (no-op when the table does
    * not exist yet — the first write creates it). */
  def writeBatch(df: DataFrame, url: String, table: String,
      batchId: Long): Unit = {
    deleteBatch(url, table, batchId)
    df.withColumn("batch_id", lit(batchId))
      .write.mode("append").jdbc(url, table, new java.util.Properties)
  }

  /** Metadata probe for the table, tried in as-given / upper / lower case
    * because an unquoted name is case-folded per the server's rules (Derby
    * and most servers upper-case, PostgreSQL lower-cases).
    *
    * getTables takes LIKE patterns, so the name's `_` (ubiquitous in table
    * names) can match ANY character — `trade_log` would "exist" because
    * `tradeXlog` does, and the subsequent DELETE against the truly-missing
    * table would fail the first-ever write. Escaping the pattern is NOT
    * portable (Derby reports an empty escape string and treats a backslash
    * literally — an escaped pattern matches nothing), so the probe goes
    * the other way: wildcards can only ever WIDEN the result set, so run
    * the raw pattern and post-filter the returned rows by exact
    * TABLE_NAME/TABLE_SCHEM equality. Unqualified names are checked
    * against the connection's CURRENT schema (where the unqualified
    * DELETE/CREATE resolve) — a same-named table in another schema must
    * not count as existing. */
  private def tableExists(conn: java.sql.Connection, table: String): Boolean = {
    val (schema, name) = table.lastIndexOf('.') match {
      case -1 => (null: String, table)
      case i  => (table.substring(0, i), table.substring(i + 1))
    }
    val md = conn.getMetaData
    def probe(s: String, n: String): Boolean = {
      val rs = md.getTables(null, s, n, null)
      try {
        var found = false
        while (!found && rs.next())
          found = rs.getString(3) == n &&
            (s == null || rs.getString(2) == s)
        found
      } finally rs.close()
    }
    val defaultSchema =
      try Option(conn.getSchema).filter(_.nonEmpty).orNull
      catch { // pre-4.1 drivers: no getSchema — fall back to any-schema
        case _: AbstractMethodError | _: java.sql.SQLException |
            _: UnsupportedOperationException => null
      }
    val schemas = Option(schema)
      .map(s => Seq(s, s.toUpperCase, s.toLowerCase).distinct)
      .getOrElse(Seq(defaultSchema))
    Seq(name, name.toUpperCase, name.toLowerCase).distinct
      .exists(n => schemas.exists(s => probe(s, n)))
  }

  /** Driver-side transactional delete of one batch's rows. Missing table is
    * detected by a metadata probe (first-ever write creates it) — every
    * OTHER delete failure propagates, because a swallowed failed delete
    * followed by the append would double-insert the batch on retry, the
    * exact duplication [[writeBatch]] exists to prevent (a permission or
    * schema error must fail the batch, not corrupt the table). */
  private def deleteBatch(url: String, table: String, batchId: Long): Unit = {
    require(SafeIdent.matches(table), s"unsafe table identifier: $table")
    val conn = DriverManager.getConnection(url)
    try {
      if (tableExists(conn, table)) {
        // Spark's JDBC writer creates columns with QUOTED (case-preserved)
        // identifiers, so the predicate must quote too — unquoted batch_id
        // would be uppercased by Derby and miss the column.
        val st = conn.prepareStatement(
          s"""DELETE FROM $table WHERE "batch_id" = ?""")
        try { st.setLong(1, batchId); st.executeUpdate(); () } finally st.close()
      }
    } finally conn.close()
  }

  /** Whole-table scan (op 4's `SELECT * FROM gdax_order_book`). */
  def read(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.jdbc(url, table, new java.util.Properties)

  /** Parallel ranged scan over a numeric column — how a large legacy table
    * is actually read on a cluster: each executor issues its own
    * WHERE-bounded query instead of one driver cursor. */
  def readPartitioned(spark: SparkSession, url: String, table: String,
      partitionColumn: String, lower: Long, upper: Long,
      numPartitions: Int): DataFrame =
    spark.read.jdbc(url, table, partitionColumn, lower, upper,
      numPartitions, new java.util.Properties)

  /** foreachBatch body mirroring [[Pipeline.commitBatch]] into JDBC, over
    * the same settled batch (one engine pass, trades id-deduped on the
    * driver): the inside book lands as the legacy 32-column flat view (the
    * reference's gdax_order_book shape, gdax_schema.sql:8-41), trades in
    * a trades table. Use as
    * `writeStream.foreachBatch(LegacyStore.jdbcSink(url))`. */
  def jdbcSink(url: String, bookTable: String = "gdax_order_book",
      tradeTable: String = "trades")
      : (Dataset[EngineOut], Long) => Unit = { (batch, batchId) =>
    val spark = batch.sparkSession
    import spark.implicits._
    val (books, reconciled) = Pipeline.settle(batch.collect().toSeq, None)
    writeBatch(Pipeline.legacyFlatView(spark.createDataset(books).toDF()),
      url, bookTable, batchId)
    writeBatch(spark.createDataset(reconciled.trades).toDF(), url,
      tradeTable, batchId)
  }
}
