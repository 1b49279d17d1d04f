package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Tables, Tmp}
import graft.encode.{AvroCodec, CfDecode, CommonFormatJson, MsgPackCodec}
import graft.pipes.{CryptoStage, FileSink, Framing}

/** Pipe/encoder round-trip catalog: each query pushes real data through a
  * round-2 transport (CF JSON encode→decode, msgpack over the framed
  * binary file pipe, encrypt+sign→decrypt+verify through the file sink)
  * and surfaces the decoded result, so the driver's DuckDB hash compare
  * gates the whole transport — not just its unit specs. Determinism rules
  * as in [[QueriesCdc]].
  */
object QueriesPipes {

  private def li(s: SparkSession, dir: String) = Tables.lineitem(s, dir)
  private def events(s: SparkSession, dir: String) = Tables.events(s, dir)
  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)

  /** E1+E1d: encode rows to Common Format JSON, decode back to typed
    * columns through the registered schema — the full wire round-trip in
    * one Catalyst plan (encode and decode are both expressions: no UDF,
    * no shuffle).
    */
  def cfRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val base = li(s, dir)
      .filter(col("l_orderkey") % 100 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))
      .withColumn("op", lit("insert"))
      .withColumn("seqno", col("l_orderkey") * 10 + col("l_linenumber"))
    val encoded = base.select(
      CommonFormatJson.encodeRows(base, Seq("l_orderkey", "l_linenumber"),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")).as("cf"))
    val payload = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType)))
    encoded
      .select(CfDecode.decodeRows(col("cf"), payload): _*)
      .select(col("seqno"), col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        round(col("l_quantity") * 100).cast("long").as("qty_cents"),
        col("l_returnflag"))
  }

  /** E3+S4/K2 binary path: msgpack-encode events, ship them through the
    * length-delimited gzip framed file pipe, read and decode back. The
    * codec runs in executor tasks (Dataset map — no JSON detour), framing
    * write/read are one task per partition/file.
    */
  def msgpackFramed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("value_cents"))
    val encoded = base.map { r =>
      MsgPackCodec.encodeEvent("insert", Seq(r.getLong(0)), r.getLong(0), 0L,
        Some(Seq("user_id" -> r.getLong(1), "value_cents" -> r.getLong(2))))
    }.toDF("value")
    val out = Tmp.staged("framed", dir)
    Tmp.deleteRecursively(java.nio.file.Paths.get(out))
    Framing.write(encoded, out, "value", gzip = true)
    Framing.read(s, out).select("value").map { r =>
      val m = MsgPackCodec.decode(r.getAs[Array[Byte]](0))._1.asInstanceOf[Map[Any, Any]]
      val fields = m("Fields").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[Any, Any]])
        .map(f => f("Name").asInstanceOf[String] -> f("Value")).toMap
      (m("SeqNo").asInstanceOf[Long],
        fields("user_id").asInstanceOf[Long],
        fields("value_cents").asInstanceOf[Long])
    }.toDF("event_id", "user_id", "value_cents")
  }

  /** E2 full wire round-trip: rows → Avro binary (nullable-union schema,
    * ref_key/row_key/is_deleted metadata trio per
    * /root/reference/encoder/avro.go:106-130) → distributed decode back to
    * wire-typed columns. Deletes (here: returnflag R) carry PK + metadata
    * only (avro.go:326-359); timestamps surface as epoch-ms longs
    * (avro.go:283). Both encode and decode are one mapPartitions pass —
    * schema parsed once per partition, no shuffle.
    */
  def avroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val payload = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_shipdate", TimestampType)))
    val base = li(s, dir)
      .filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"), col("l_shipdate"))
      .withColumn("op", when(col("l_returnflag") === "R", lit("delete"))
        .otherwise(lit("insert")))
      .withColumn("seqno", col("l_orderkey") * 10 + col("l_linenumber"))
      .withColumn("row_key",
        concat_ws(",", col("l_orderkey"), col("l_linenumber")))
    val bytes = AvroCodec.encode(base, payload, "lineitem", "graft",
      keyCols = Seq("l_orderkey", "l_linenumber"))
    AvroCodec.decodeRows(bytes, payload, "lineitem", "graft")
  }

  /** K2 encryption stage: JSON file-sink output encrypted+signed, then
    * decrypted+verified (both task-side passes), read back and parsed.
    * Ephemeral per-run keys — the round-trip output is key-independent.
    */
  def cryptoRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val producer = CryptoStage.generateKeyPair()
    val consumer = CryptoStage.generateKeyPair()
    val out = Tmp.staged("crypto", dir)
    Tmp.deleteRecursively(java.nio.file.Paths.get(out))
    docs(s, dir)
      .select(to_json(struct(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("len_chars"))).as("value"))
      .write.mode("overwrite").text(out)
    CryptoStage.encryptDir(s, out, consumer.getPublic, producer.getPrivate)
    CryptoStage.decryptDir(s, out, consumer.getPrivate, producer.getPublic)
    s.read.text(out).select(
      get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
      get_json_object(col("value"), "$.source").as("source"),
      get_json_object(col("value"), "$.len_chars").cast("long").as("len_chars"))
  }

  /** K2 encryption stage over the REAL OpenPGP wire format: file-sink
    * output encrypted into RFC 4880 messages (SKESK + SEIPD/MDC,
    * gpg-interoperable — see [[graft.pipes.Pgp]] and PgpSpec's two-way
    * GnuPG interop), decrypted task-side, read back and parsed.
    */
  def pgpRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Tmp.staged("pgp", dir)
    Tmp.deleteRecursively(java.nio.file.Paths.get(out))
    docs(s, dir)
      .select(to_json(struct(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("len_chars"))).as("value"))
      .write.mode("overwrite").text(out)
    CryptoStage.encryptDirPgp(s, out, "graft-segment-passphrase")
    CryptoStage.decryptDirPgp(s, out, "graft-segment-passphrase")
    s.read.text(out).select(
      get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
      upper(get_json_object(col("value"), "$.source")).as("src"),
      get_json_object(col("value"), "$.len_chars").cast("long").as("len_chars"))
  }

  /** K3 over the REAL socket: [[graft.pipes.FileSink]] (rotation by
    * record count + task-side SHA-256 `_DONE` manifest) writing through
    * Hadoop's own `WebHdfsFileSystem` client to a loopback
    * [[graft.pipes.WebHdfsServer]] speaking the public WebHDFS REST
    * protocol — create/redirect/rename/list all cross HTTP, the same
    * hadoop-client machinery a production `hdfs://` sink exercises
    * (reference: pipe/hdfs.go:37-180 reusing the file producer over an
    * HDFS FileSystem). The read-back also crosses the wire, executor-side.
    *
    * One loopback endpoint per dataset content, process-lifetime: the
    * server must outlive the returned (lazy) DataFrame, and bench repeats
    * then measure the over-the-wire READ path against an already written
    * sink (the write itself runs once per JVM — the q_changelog_socket
    * staged-fixture precedent).
    */
  def webhdfsSink(s: SparkSession, dir: String): DataFrame = {
    val out = Tmp.stagedOnce("webhdfs", dir) { staged =>
      val backing = new java.io.File(staged)
      backing.mkdirs()
      val srv = new graft.pipes.WebHdfsServer(backing) // lives with the JVM
      // ephemeral ports: a cached FS instance would outlive its server
      s.sparkContext.hadoopConfiguration.set("fs.webhdfs.impl.disable.cache", "true")
      val path = s"${srv.uri}/docs"
      val manifest = FileSink.write(
        docs(s, dir).select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("len_chars")),
        path, format = "json", maxRecordsPerFile = 5000)
      require(manifest.nonEmpty && manifest.forall(_.numRecs > 0), "empty webhdfs sink")
      path
    }
    s.read.schema("doc_id bigint, source string, len_chars bigint").json(out)
      .select(col("doc_id"), col("source"), col("len_chars"))
  }

  /** K4 over the REAL wire: [[graft.pipes.FileSink]] writing through the
    * thin [[graft.pipes.S3FileSystem]] client to a loopback
    * [[graft.pipes.S3Server]] speaking the public S3 REST protocol —
    * streaming multipart upload (parts ship as they fill, the
    * `pipe/s3.go:44-268` io.Pipe/s3manager shape), committer rename as
    * server-side COPY, ListObjectsV2 listing, ranged-GET read-back. The
    * part size is forced small so the fixture genuinely crosses part
    * boundaries on the wire; the require proves the multipart path ran.
    */
  def s3Sink(s: SparkSession, dir: String): DataFrame = {
    val out = Tmp.stagedOnce("s3", dir) { staged =>
      val backing = new java.io.File(staged)
      backing.mkdirs()
      val srv = new graft.pipes.S3Server(backing) // lives with the JVM
      val conf = s.sparkContext.hadoopConfiguration
      conf.set("fs.gs3.impl", "graft.pipes.S3FileSystem")
      conf.setInt("fs.gs3.multipart.size", 256 * 1024)
      // ephemeral ports: a cached FS instance would outlive its server
      conf.setBoolean("fs.gs3.impl.disable.cache", true)
      val path = s"gs3://127.0.0.1:${srv.port}/graft/docs"
      val manifest = FileSink.write(
        docs(s, dir).select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("len_chars")),
        path, format = "json", maxRecordsPerFile = 5000)
      require(manifest.nonEmpty && manifest.forall(_.numRecs > 0), "empty s3 sink")
      require(srv.multipartCompletes.get > 0 || srv.singlePuts.get > 0,
        "no object reached the s3 wire")
      path
    }
    s.read.schema("doc_id bigint, lang string, len_chars bigint").json(out)
      .select(col("doc_id"), col("lang"), col("len_chars"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cf_roundtrip" -> cfRoundtrip _,
    "q_msgpack_framed" -> msgpackFramed _,
    "q_avro_roundtrip" -> avroRoundtrip _,
    "q_crypto_roundtrip" -> cryptoRoundtrip _,
    "q_pgp_roundtrip" -> pgpRoundtrip _,
    "q_webhdfs_sink" -> webhdfsSink _,
    "q_s3_sink" -> s3Sink _)

  val oracleSql: Map[String, String] = Map(
    "q_cf_roundtrip" ->
      """SELECT l_orderkey * 10 + l_linenumber AS seqno, l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_cents, l_returnflag
        |FROM lineitem WHERE l_orderkey % 100 = 0""".stripMargin,

    "q_msgpack_framed" ->
      """SELECT event_id, user_id, CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        |FROM events WHERE event_type = 'purchase'""".stripMargin,

    "q_avro_roundtrip" ->
      // deletes keep PK + metadata; non-key payload nulls. Timestamps are
      // wire epoch-ms longs, so the oracle compares epoch_ms().
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN is_deleted THEN NULL ELSE l_quantity END AS l_quantity,
        |  CASE WHEN is_deleted THEN NULL ELSE l_returnflag END AS l_returnflag,
        |  CASE WHEN is_deleted THEN NULL ELSE epoch_ms(l_shipdate) END AS l_shipdate,
        |  l_orderkey * 10 + l_linenumber AS ref_key,
        |  CAST(l_orderkey AS VARCHAR) || ',' || CAST(l_linenumber AS VARCHAR) AS row_key,
        |  is_deleted
        |FROM (SELECT *, l_returnflag = 'R' AS is_deleted
        |      FROM lineitem WHERE l_orderkey % 50 = 0)""".stripMargin,

    "q_crypto_roundtrip" ->
      """SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len_chars
        |FROM documents""".stripMargin,

    "q_pgp_roundtrip" ->
      """SELECT doc_id, upper(source) AS src, CAST(length(text) AS BIGINT) AS len_chars
        |FROM documents""".stripMargin,

    // the sink carries the rows unchanged; integrity is the _DONE
    // manifest + hash (WebHdfsSpec) — the oracle proves no row was
    // dropped/duplicated/corrupted crossing the wire twice
    "q_webhdfs_sink" ->
      """SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len_chars
        |FROM documents""".stripMargin,

    // rows must survive the multipart wire unchanged; integrity is the
    // _DONE manifest (S3WireSpec covers boundary cases byte-for-byte)
    "q_s3_sink" ->
      """SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS len_chars
        |FROM documents""".stripMargin)
}
