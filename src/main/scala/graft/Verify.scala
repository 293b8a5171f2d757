package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (tools/check.py). Usage:
  * `graft.Verify <sfDir> <outDir> [q1,q2,...]` — the optional list runs
  * only the named queries and writes only their oracles. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(sf, out)         => (sf, out, None)
      case Array(sf, out, filter) => (sf, out, Some(filter.split(',').toSet))
    }
    val queries = select(only)
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      // an earlier run's dump must not stand in for a query that fails now
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(queries.keySet))
    // Persist-mode evidence (r14 verdict ask #2): when the run staged to
    // disk, emit how each stage resolved (cold/delta/hit/...) so a
    // delta-refreshed gate run can prove the delta path actually carried it.
    if (graft.operators.Staged.persistEnabled)
      System.err.println("[verify] stage modes: " +
        graft.operators.Staged.buildLogSnapshot
          .map { case (s, m) => s"$s=$m" }.mkString(", "))
    spark.stop()
  }

  /** The registered queries a run covers: all of them, or the `only`
    * names — an unknown name is refused, never silently skipped. */
  private[graft] def select(only: Option[Set[String]])
      : Map[String, (SparkSession, String) => DataFrame] = {
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    }
    SparkEntry.queries.filter { case (name, _) => only.forall(_(name)) }
  }

  /** oracle_sql.json over the oracles of `names` only: the compare then
    * never reads a query this run did not write (or an earlier run's
    * stale dump of it). */
  private[graft] def oracleJson(names: Set[String]): String = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql.filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
