package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.changelog.BinlogWire
import graft.core.Tables
import graft.metrics.{Metrics, MetricsListeners}
import graft.state.StateStore
import graft.state.StateStore.Registration
import graft.sources.BinlogFixture
import graft.stream.{ClusterLimiter, Coordinator, Streamer}

/** Cross-thread probe for the onboarding-order test: the snapshot's UDF
  * records whether a streaming query was active when the snapshot was
  * evaluated, and the changelog's UDF holds the query's first epoch until
  * that has happened, so the query cannot finish before the snapshot is
  * read (the hold is bounded: it never waits past 30 s).
  */
object OnboardOrderProbe {
  @volatile var snapshotRead = new CountDownLatch(1)
  val active = new AtomicInteger()
  val idle = new AtomicInteger()

  def reset(): Unit = {
    snapshotRead = new CountDownLatch(1)
    active.set(0)
    idle.set(0)
  }

  def snapshotRow(name: String): String = {
    if (SharedSpark.spark.streams.active.nonEmpty) active.incrementAndGet()
    else idle.incrementAndGet()
    snapshotRead.countDown()
    name
  }

  def changelogRow(op: String): String = {
    snapshotRead.await(30, TimeUnit.SECONDS)
    op
  }
}

/** A 12-transaction binary binlog over ids 0..7 (inserts, then updates and
  * deletes), read by `graft-binlog` two events per epoch: 6 epochs, 15 CF
  * records (3 updates write two halves); `gate` wraps the `op` column.
  * Columns: `seq`, `op`, `id`, `name`.
  */
object TxnBinlog {
  private val table = BinlogWire.TableDef("shop", "items", Seq(
    BinlogWire.Col("id", BinlogWire.T.LONGLONG),
    BinlogWire.Col("name", BinlogWire.T.VARCHAR, meta = 32)))

  def changelog(spark: SparkSession, work: String, gate: Column => Column = identity): DataFrame = {
    def img(id: Long, name: String): IndexedSeq[Any] = IndexedSeq(java.lang.Long.valueOf(id), name)
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val rows = (0L until 8L).map(i => BinlogWire.Row("insert", None, Some(img(i, s"b$i")))) ++
      Seq(BinlogWire.Row("update", Some(img(1, "b1")), Some(img(1, "u1"))),
        BinlogWire.Row("update", Some(img(2, "b2")), Some(img(2, "u2"))),
        BinlogWire.Row("delete", Some(img(3, "b3")), None),
        BinlogWire.Row("update", Some(img(1, "u1")), Some(img(1, "v1"))))
    val path = s"$work/backlog.binlog"
    BinlogFixture.writeBinary(path, rows.zipWithIndex.iterator.map { case (r, g) =>
      BinlogWire.Txn(uuid, g + 1L, 1700000000000L + g * 1000L, table, Seq(r))
    })
    spark.readStream.format("graft-binlog")
      .option("path", path)
      .option("maxEventsPerTrigger", "2")
      .load()
      .filter(col("op") =!= "ddl")
      .select(col("seq"), gate(col("op")).as("op"),
        from_json(col("payload"), org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, name STRING")).as("r"))
      .select(col("seq"), col("op"), col("r.id").as("id"), col("r.name").as("name"))
  }
}

/** Integrated worker-loop proof (O1 + O11 + metrics): a full registration
  * processed through the Coordinator inside a cluster-limiter slot with
  * the metrics listeners installed — manifests written, state synced,
  * counters populated from Spark's own instrumentation.
  */
class CoordinatorSpec extends SparkSuite {

  private def eventually[A](timeoutMs: Long = 20000)(f: => A): A = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last: Throwable = null
    while (System.currentTimeMillis() < deadline) {
      try return f
      catch { case t: Throwable => last = t; Thread.sleep(200) }
    }
    throw last
  }

  test("coordinator runs a registration end-to-end under limiter + metrics") {
    val listeners = MetricsListeners.install(spark)
    try {
      Metrics.reset()
      val work = Files.createTempDirectory("graft-coord").toString
      val state = new StateStore(s"$work/state")
      val reg = Registration("svc", "cl1", "fixtures", "events_state", "mysql", "file", "json")
      state.register(reg)

      val fenceMs = 1705276800000L
      val ev = Tables.events(spark, sf0001)
        .select(col("user_id"), col("value"), unix_millis(col("ts")).as("tms"), col("event_id"))
      val snapshot = Streamer.resolveLatest(
          ev.filter(col("tms") < fenceMs)
            .withColumn("op", lit("insert")).withColumn("seqno", col("event_id")),
          Seq("user_id"), Seq("seqno"))
        .select(col("user_id"), col("value"))

      val logDir = s"$work/cdc-in"
      Tables.events(spark, sf0001).filter(unix_millis(col("ts")) >= fenceMs)
        .withColumn("op",
          when(col("event_type") === "signup", "insert")
            .when(col("event_type") === "error", "delete").otherwise("update"))
        .select(col("op"), col("user_id"), col("value"), col("event_id"))
        .write.mode("overwrite").parquet(logDir)
      val changelog = spark.readStream
        .schema("op string, user_id bigint, value double, event_id bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(logDir)

      val limiter = new ClusterLimiter(1)
      val coordinator = new Coordinator(spark, state, s"$work/out")
      val manifests = limiter.withSlot(spark, reg.cluster) {
        coordinator.runTask(reg, snapshot, changelog,
          pkCols = Seq("user_id"), orderCols = Seq("event_id"),
          checkpoint = s"$work/ckpt")
      }

      // pipeline output: manifests on disk, registration synced
      assert(manifests.nonEmpty && manifests.forall(_.hash.length == 64))
      assert(state.listRegistrations.head.state == "synced")
      val outBase = s"$work/out/cl1.fixtures.events_state.v0"
      val snapshotRows = spark.read.json(s"$outBase/snapshot").count()
      val logRows = spark.read.json(s"$outBase/log/*").count()
      assert(logRows > 0 && snapshotRows + logRows == manifests.map(_.numRecs).sum)

      // metrics populated by the run itself: batch write tasks' output
      // metrics feed the snapshot family; the changelog's rows reach the
      // streamer family through the sink's progress (its DataSource-V2
      // write tasks report no output metrics)
      eventually() {
        val snap = Metrics.snapshot()
        assert(snap("streamer_events_written") == logRows, snap)
        assert(snap("snapshot_events_written") >= snapshotRows, snap)
        assert(snap("streamer_events_read") > 0L, snap)
        assert(snap("streamer_batches") >= 1L, snap)
      }
      assert(limiter.running(reg.cluster) == 0)
    } finally MetricsListeners.uninstall(spark, listeners)
  }

  private def binlogChangelog(work: String, gate: Column => Column): DataFrame =
    TxnBinlog.changelog(spark, work, gate)

  private def newTask(tag: String): (String, StateStore, Registration, Coordinator) = {
    val work = Files.createTempDirectory(s"graft-coord-$tag").toString
    val state = new StateStore(s"$work/state")
    val reg = Registration("svc", "cl1", "shop", "items", "mysql", "file", "json")
    state.register(reg)
    (work, state, reg, new Coordinator(spark, state, s"$work/out"))
  }

  test("runTask starts the changelog consumer before it reads the snapshot") {
    // streamer.go:196-199: the consumer is created before the table is
    // snapshotted, and the snapshot is written while the query runs
    assert(spark.streams.active.isEmpty)
    OnboardOrderProbe.reset()
    val (work, state, reg, coordinator) = newTask("order")
    val probeSnapshot = udf((n: String) => OnboardOrderProbe.snapshotRow(n))
    val holdEpoch = udf((op: String) => OnboardOrderProbe.changelogRow(op))
    val snapshot = spark.range(0, 8)
      .select(col("id"), probeSnapshot(concat(lit("s"), col("id").cast("string"))).as("name"))
    val manifests = coordinator.runTask(reg, snapshot, binlogChangelog(work, holdEpoch(_)),
      pkCols = Seq("id"), orderCols = Seq("seq"), checkpoint = s"$work/ckpt")

    assert(OnboardOrderProbe.active.get() > 0 && OnboardOrderProbe.idle.get() == 0,
      s"snapshot rows read with the changelog query active: ${OnboardOrderProbe.active.get()}, " +
        s"idle: ${OnboardOrderProbe.idle.get()}")
    assert(spark.streams.active.isEmpty)
    assert(state.listRegistrations.head.state == "synced")
    // 8 snapshot rows + 12 events, of which 3 updates write two halves
    val outBase = s"$work/out/cl1.shop.items.v0"
    assert(manifests.map(_.numRecs).sum == 8 + 12 + 3)
    assert(spark.read.json(s"$outBase/snapshot").count() +
      spark.read.json(s"$outBase/log/*").count() == 8 + 12 + 3)
  }

  test("runTask runs one job for the snapshot and one per changelog epoch") {
    assert(spark.streams.active.isEmpty)
    val (work, _, reg, coordinator) = newTask("jobs")
    val snapshot = spark.range(0, 8, 1, 1)
      .select(col("id"), concat(lit("s"), col("id").cast("string")).as("name"))
    val (manifests, jobs) = JobCount(spark, group = None) {
      coordinator.runTask(reg, snapshot, binlogChangelog(work, identity),
        pkCols = Seq("id"), orderCols = Seq("seq"), checkpoint = s"$work/ckpt")
    }
    val epochs = new java.io.File(s"$work/out/cl1.shop.items.v0/log").list().count(_.startsWith("epoch="))
    assert(manifests.map(_.numRecs).sum == 8 + 12 + 3)
    // 12 transactions, two events per epoch: 7 jobs, the snapshot write
    // and one per epoch, whose streaming write sorts, numbers seqnos,
    // writes and digests in one task and writes `_DONE` in its commit.
    // Before each write built its `_DONE` in its own job and the epoch's
    // seqno window ran in the write's task, this was 20 jobs: snapshot
    // write + manifest pass, and per epoch the seqno shuffle's map job,
    // the write and the manifest pass.
    assert(epochs == 6, s"$epochs epochs")
    assert(jobs == 1 + epochs, s"$jobs jobs over $epochs epochs")
  }

  test("runTask starts no chmod or readlink child process") {
    import scala.jdk.CollectionConverters._
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    // the commands of the child processes `body` starts, whichever thread
    def commands(body: => Unit): Seq[String] = {
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val file = Files.createTempFile("graft-procs", ".jfr")
      try {
        rec.dump(file)
        RecordingFile.readAllEvents(file).asScala.map(_.getString("command")).toSeq
      } finally { rec.close(); Files.deleteIfExists(file) }
    }
    def fsChildren(cmds: Seq[String]): Seq[String] =
      cmds.filter(c => Set("chmod", "readlink")(new java.io.File(c.trim.split("\\s+").head).getName))

    // control: Hadoop's own local FS runs chmod in a child process, and the recording sees it
    val raw = new org.apache.hadoop.fs.RawLocalFileSystem
    raw.initialize(org.apache.hadoop.fs.FsConstants.LOCAL_FS_URI, spark.sparkContext.hadoopConfiguration)
    val probe = Files.createTempFile("graft-chmod", ".json")
    assert(fsChildren(commands(raw.setPermission(new org.apache.hadoop.fs.Path(probe.toString),
      org.apache.hadoop.fs.permission.FsPermission.getFileDefault))).nonEmpty)

    assert(spark.streams.active.isEmpty)
    val (work, _, reg, coordinator) = newTask("procs")
    val snapshot = spark.range(0, 8, 1, 1)
      .select(col("id"), concat(lit("s"), col("id").cast("string")).as("name"))
    var manifests = Seq.empty[graft.pipes.FileSink.Manifest]
    val cmds = commands {
      manifests = coordinator.runTask(reg, snapshot, binlogChangelog(work, identity),
        pkCols = Seq("id"), orderCols = Seq("seq"), checkpoint = s"$work/ckpt")
    }
    assert(manifests.map(_.numRecs).sum == 8 + 12 + 3)
    val fsCmds = fsChildren(cmds)
    assert(fsCmds.isEmpty, s"${fsCmds.size} of ${cmds.size} child processes, e.g.\n${fsCmds.take(5).mkString("\n")}")
  }

  test("a failed snapshot stops the changelog query and leaves the registration unsynced") {
    assert(spark.streams.active.isEmpty)
    val (work, state, reg, coordinator) = newTask("fail")
    val snapshot = spark.range(0, 8)
      .select(col("id"), raise_error(lit("snapshot failed")).cast("string").as("name"))
    intercept[Exception] {
      coordinator.runTask(reg, snapshot, binlogChangelog(work, identity),
        pkCols = Seq("id"), orderCols = Seq("seq"), checkpoint = s"$work/ckpt")
    }
    assert(spark.streams.active.isEmpty, spark.streams.active.map(_.name).mkString(","))
    assert(state.listRegistrations.head.state != "synced")
  }
}
