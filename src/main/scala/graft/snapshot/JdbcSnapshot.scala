package graft.snapshot

import java.sql.DriverManager
import scala.util.{Try, Using}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.filters.RowFilter

/** Production snapshot source: JDBC scan of a MySQL table.
  *
  * Reference behavior (/root/reference/snapshot/mysql.go:70-133): open a
  * transaction, record `@@global.gtid_executed` as the snapshot fence, run
  * `SELECT * FROM t <WHERE…> FORCE INDEX (primary)`, stream rows through a
  * single cursor.
  *
  * Spark improvements over that design (SURVEY §4):
  *  - intra-table parallelism: `partitionColumn/lowerBound/upperBound/
  *    numPartitions` on the numeric PK splits the scan into N concurrent
  *    range queries — the reference's single cursor has no counterpart;
  *  - the row filter and projection are declared on the DataFrame and
  *    Catalyst pushes both into each ranged JDBC query;
  *  - reads target a replica URL (conn type db.Slave ≙ JDBC URL choice).
  *
  * Untested in-container (no MySQL); the same Snapshot.scan filter/
  * projection layer is oracle-verified against parquet, and this class is
  * only the source swap.
  */
object JdbcSnapshot {

  final case class JdbcSource(url: String, user: String, password: String,
      db: String, table: String, forceIndex: Option[String] = None)

  /** The snapshot fence: GTID set at scan start
    * (snapshot/mysql.go:89 `SELECT @@global.gtid_executed`). Streaming
    * starts from a position <= this fence; `Streamer.resolveLatest`
    * handles the overlap.
    */
  def fenceGtid(src: JdbcSource): Try[String] = Try {
    Using.resource(DriverManager.getConnection(src.url, src.user, src.password)) { conn =>
      Using.resource(conn.createStatement()) { st =>
        val rs = st.executeQuery("SELECT @@global.gtid_executed")
        rs.next()
        rs.getString(1)
      }
    }
  }

  /** Backtick-quote an identifier (MySQL style; `` ` `` doubled). Control
    * -plane values come from the state store, but never splice unquoted.
    */
  private[snapshot] def quoteId(id: String): String =
    "`" + id.replace("`", "``") + "`"

  /** Partitioned snapshot scan. `pkCol` must be numeric (the common case;
    * string PKs fall back to a single partition).
    */
  def scan(spark: SparkSession, src: JdbcSource, pkCol: String,
           lower: Long, upper: Long, numPartitions: Int,
           filters: Seq[RowFilter] = Seq.empty, keep: Seq[String] = Seq.empty,
           pkCols: Seq[String] = Seq.empty): DataFrame = {
    // FORCE INDEX goes through the dbtable subquery (JDBC options cannot
    // express hints; snapshot/snapshot.go:102-109 ForceIndex config)
    val rel = src.forceIndex match {
      case Some(idx) =>
        s"(SELECT * FROM ${quoteId(src.db)}.${quoteId(src.table)} FORCE INDEX (${quoteId(idx)})) AS t"
      case None => s"${quoteId(src.db)}.${quoteId(src.table)}"
    }
    val df = spark.read.format("jdbc")
      .option("url", src.url)
      .option("user", src.user)
      .option("password", src.password)
      .option("dbtable", rel)
      .option("partitionColumn", pkCol)
      .option("lowerBound", lower)
      .option("upperBound", upper)
      .option("numPartitions", numPartitions)
      .option("fetchsize", 4096) // reference MaxBatchSize (config/config.go:218)
      .load()
    if (filters.isEmpty && keep.isEmpty) df
    else Snapshot.scan(df, filters, keep, pkCols)
  }
}
