package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._

import graft.stream.Streamer

case class Cdc(op: String, ts: Long, id: Long, k: Long, v: String)

class StreamerSpec extends SparkSuite {
  import spark.implicits._

  // CF Key = (ts, id), so every record, delete or insert, carries its order columns
  private val Pk = Seq("ts", "id")
  private val Payload = Seq("ts", "id", "k", "v")

  /** (epoch, ts, id, half, seqno) of every record written under `dir`;
    * the half is the record's Type (an update's delete half comes first).
    */
  private def written(dir: String): Seq[(Long, Long, Long, Int, Long)] =
    EpochFiles.records(dir).map { case (epoch, r) =>
      (epoch, r.get("Key").get(0).asLong, r.get("Key").get(1).asLong,
        if (r.get("Type").asText == "delete") 0 else 1, r.get("SeqNo").asLong)
    }

  test("changelog phase: updates expand, seqnos monotone across epochs") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Cdc]
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val out = Files.createTempDirectory("graft-log").toString + "/log"

    stream.addData(
      Cdc("insert", 1, 1, 100, "a"),
      Cdc("update", 2, 2, 100, "b"),
      Cdc("delete", 3, 3, 100, null))

    val first = Streamer.changelogPhase(stream.toDF(), Pk, Payload, Seq("ts", "id"), ckpt, out).await()
    val rows = written(out).sortBy(_._5)
    // 1 insert + (delete+insert) + 1 delete = 4 physical events
    assert(rows.map(r => (r._4, r._3)) == Seq((1, 1L), (0, 2L), (1, 2L), (0, 3L)))
    assert(first.map(_.numRecs) == Seq(4L))
    // delete-half of the update precedes its insert-half in seqno order
    val seqnos = rows.map(_._5)
    assert(seqnos.distinct.length == seqnos.length)

    // a restart on the same checkpoint: the epoch id keeps seqnos monotone
    stream.addData(Cdc("insert", 4, 4, 101, "c"))
    val second = Streamer.changelogPhase(stream.toDF(), Pk, Payload, Seq("ts", "id"), ckpt, out).await()
    assert(second.map(_.numRecs) == Seq(1L))
    val later = written(out).filter(_._1 == 1L).map(_._5)
    assert(later.nonEmpty && later.min > seqnos.max)
  }

  test("epoch seqnos: one task, no Exchange, ((epoch+1) << 32) + 1..n in (orderCols, half) order") {
    implicit val sqlCtx = spark.sqlContext
    // one addData call is one input partition of the micro-batch; rows are
    // out of order within and across partitions
    val batches = Seq(
      Seq(Cdc("update", 5, 9, 100, "e"), Cdc("insert", 1, 4, 100, "a"), Cdc("update", 5, 2, 101, "d")),
      Seq(Cdc("delete", 3, 7, 100, null), Cdc("insert", 2, 8, 102, "b")),
      Seq(Cdc("update", 4, 1, 103, "c"), Cdc("insert", 1, 6, 104, "f")))
    for (parts <- Seq(1, batches.size)) {
      val stream = MemoryStream[Cdc]
      if (parts == 1) stream.addData(batches.flatten)
      else batches.foreach(b => stream.addData(b))
      val ckpt = Files.createTempDirectory("graft-ckpt-seqno").toString
      val out = Files.createTempDirectory("graft-log-seqno").toString + "/log"
      val run = Streamer.changelogPhase(stream.toDF(), Pk, Payload, Seq("ts", "id"), ckpt, out)
      run.await()
      val plan = run.query.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      val inputParts = plan.collectLeaves().map(_.execute().getNumPartitions).sum
      val writeTasks = plan.children.map(_.execute().getNumPartitions).sum
      val rows = written(out)

      assert(rows.map(_._1).distinct == Seq(0L), s"$parts partitions: epochs ${rows.map(_._1).distinct}")
      assert(inputParts == parts, s"micro-batch has $inputParts input partitions, want $parts")
      assert(writeTasks == 1, s"$parts partitions: the epoch writes in $writeTasks tasks")
      assert(!plan.toString.contains("Exchange"), s"$parts partitions: the epoch shuffles:\n$plan")
      // 7 events, 3 of them updates (two halves each)
      assert(rows.size == 10)
      val expected = rows.sortBy { case (_, ts, id, half, _) => (ts, id, half) }.zipWithIndex
        .map { case ((epoch, ts, id, half, _), i) => (epoch, ts, id, half, ((epoch + 1) << 32) + i + 1) }
      // the file is in seqno order, and the seqnos follow (ts, id, half)
      assert(rows == expected, s"$parts partitions")
    }
  }

  test("snapshot + changelog merge resolves latest-by-seqno with tombstones") {
    val snapshot = Streamer.snapshotPhase(
      Seq((100L, "old"), (200L, "keep")).toDF("k", "v"))
    val log = Seq(
      ("insert", 100L, "new", 5L), // overwrites snapshot state
      ("insert", 300L, "born", 6L),
      ("delete", 300L, null, 7L)) // tombstone wins over its insert
      .toDF("op", "k", "v", "seqno").withColumn("half", lit(1))
    val merged = Streamer.resolveLatest(
      snapshot.select("op", "k", "v", "seqno", "half").unionByName(log),
      keyCols = Seq("k"), orderCols = Seq("seqno", "half"))
    val got = merged.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(100L -> "new", 200L -> "keep"))
  }
}

/** A second FileSystem scheme backed by RawLocalFileSystem — instantiated
  * by Hadoop reflection from `fs.graftfs.impl`, so sink/manifest/crypto
  * stages prove they address storage exclusively through the scheme-
  * resolved Hadoop FS API (the K3/K4 hdfs:///s3a:// shape).
  */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

class FileSinkSpec extends SparkSuite {
  import spark.implicits._
  import graft.pipes.FileSink

  test("json sink writes _DONE manifest with per-file sha256 + record counts") {
    val dir = Files.createTempDirectory("graft-sink").toString + "/out"
    val df = Seq.tabulate(100)(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(2)
    val manifest = FileSink.write(df, dir, format = "json")
    assert(manifest.nonEmpty)
    assert(manifest.map(_.numRecs).sum == 100)
    // verify a recorded hash against the file on disk
    val m = manifest.head
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(dir, m.fileName))
    val h = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString
    assert(h == m.hash)
    // _DONE content parses as the reference's [{NumRecs,Hash,FileName}] array
    val done = new String(Files.readAllBytes(java.nio.file.Paths.get(dir, "_DONE")))
    assert(done.startsWith("""[{"NumRecs":"""))
    assert(done.contains(m.fileName))
  }

  test("size rotation: maxRecordsPerFile bounds every output file") {
    // pipe/file.go:598-602 rotates on size; Spark's equivalent knob is
    // maxRecordsPerFile, and the manifest must account for every rotated
    // file with no loss
    val dir = Files.createTempDirectory("graft-sinkrot").toString + "/out"
    val df = Seq.tabulate(1000)(i => (i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
    val manifest = FileSink.write(df, dir, format = "json", maxRecordsPerFile = 100)
    assert(manifest.size >= 10, s"expected rotation, got ${manifest.size} files")
    assert(manifest.forall(_.numRecs <= 100))
    assert(manifest.map(_.numRecs).sum == 1000)
    // every manifest entry names a real file
    manifest.foreach(m =>
      assert(Files.exists(java.nio.file.Paths.get(dir, m.fileName)), m.fileName))
  }

  test("sink + manifest + crypto run against a second FileSystem scheme (K3/K4 path)") {
    // hdfs:// and s3a:// differ from file:// only by which FileSystem impl
    // the scheme resolves to through the (shipped) Hadoop configuration.
    // Registering a custom scheme backed by RawLocalFileSystem exercises
    // exactly that resolution path end-to-end: if any stage bypassed the
    // Hadoop FS API (java.io, hardcoded file:), the graftfs:// run breaks.
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val crypto = graft.pipes.CryptoStage
    val producer = crypto.generateKeyPair()
    val consumer = crypto.generateKeyPair()
    for (scheme <- Seq("file://", "graftfs://")) {
      val local = Files.createTempDirectory(s"graft-scheme").toString
      val dir = s"$scheme$local/out"
      val df = Seq.tabulate(50)(i => s"""{"k":$i}""").toDF("value").repartition(2)
      val manifest = FileSink.write(df, dir, format = "text")
      assert(manifest.map(_.numRecs).sum == 50, s"$scheme manifest")
      // _DONE landed through the scheme's FileSystem
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.isInstanceOf[GraftTestFs] == (scheme == "graftfs://"), fs.getClass)
      assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "_DONE")), s"$scheme _DONE")
      // crypto stages resolve the same scheme inside executor tasks via
      // the shipped configuration
      val nEnc = crypto.encryptDir(spark, dir, consumer.getPublic, producer.getPrivate)
      assert(nEnc == manifest.size, s"$scheme encrypted $nEnc")
      assert(crypto.decryptDir(spark, dir, consumer.getPrivate, producer.getPublic) == nEnc)
      val back = spark.read.text(dir)
      assert(back.count() == 50, s"$scheme readback")
    }
  }

  test("_DONE manifest is one narrow job: no shuffle, entries match the files") {
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val dir = Files.createTempDirectory("graft-sinkjobs")
    val bodies = (0 until 4).map { i =>
      val body = (0 to i * 3).map(j => s"""{"k":$j}""").mkString("", "\n", "\n").getBytes("UTF-8")
      Files.write(dir.resolve(f"part-$i%05d.json"), body)
      f"part-$i%05d.json" -> body
    }.toMap

    val sc = spark.sparkContext
    val group = "graft-manifest-jobs"
    val jobs = new AtomicInteger()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new AtomicLong()
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(); e.stageIds.foreach(stages.add)
          case Some("graft-manifest-barrier") => drained = true
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    val manifest = try {
      sc.setJobGroup(group, "manifest")
      val m = FileSink.writeDoneManifest(spark, dir.toString, "json")
      // listener events arrive in order: once the barrier job's start is
      // seen, every event of the manifest's jobs has been delivered
      sc.setJobGroup("graft-manifest-barrier", "barrier")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 20000
      while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(drained, "listener bus did not deliver the barrier job")
      m
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }

    assert(jobs.get() == 1, s"manifest ran ${jobs.get()} jobs")
    assert(shuffleBytes.get() == 0L, s"manifest wrote ${shuffleBytes.get()} shuffle bytes")
    assert(manifest.map(_.fileName) == bodies.keys.toSeq.sorted)
    manifest.foreach { m =>
      val body = bodies(m.fileName)
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(body)
        .map("%02x".format(_)).mkString
      assert(m.hash == sha, m.fileName)
      assert(m.numRecs == body.count(_ == '\n'), m.fileName)
    }
  }

  test("write is one job and its _DONE equals a writeDoneManifest re-read, byte for byte") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val json = (n: Long, parts: Int) =>
      spark.range(0, n, 1, parts).select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
    // (case, scheme, frame, format, maxRecordsPerFile, gzip, rows)
    val cases = Seq(
      ("multi-partition json", "", json(300, 3), "json", 0L, false, 300L),
      ("maxRecordsPerFile rotation", "", json(1000, 2), "json", 100L, false, 1000L),
      ("gzip json", "", json(200, 2), "json", 0L, true, 200L),
      ("text", "", spark.range(0, 50, 1, 2).select(
        concat(lit("""{"k":"""), col("id"), lit("}")).as("value")), "text", 0L, false, 50L),
      ("empty frame", "", Seq.empty[(Long, String)].toDF("k", "v"), "json", 0L, false, 0L),
      ("graftfs scheme", "graftfs://", json(120, 2), "json", 0L, false, 120L))
    for ((name, scheme, df, format, maxRecs, gzip, rows) <- cases) {
      val dir = scheme + Files.createTempDirectory("graft-sinkparity").toString + "/out"
      val done = new org.apache.hadoop.fs.Path(dir, "_DONE")
      val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def doneBytes(): Array[Byte] = {
        val in = fs.open(done)
        try in.readAllBytes() finally in.close()
      }
      val (written, jobs) = JobCount(spark, Some("graft-sink-write")) {
        FileSink.write(df, dir, format = format, maxRecordsPerFile = maxRecs, gzip = gzip)
      }
      val inWriter = doneBytes()
      val reread = FileSink.writeDoneManifest(spark, dir, format)
      assert(jobs == 1, s"$name: write ran $jobs jobs")
      assert(written == reread, name)
      assert(new String(inWriter, "UTF-8") == new String(doneBytes(), "UTF-8"), name)
      assert(written.map(_.numRecs).sum == rows, name)
      if (maxRecs > 0)
        assert(written.size >= rows / maxRecs && written.forall(_.numRecs <= maxRecs), name)
      if (gzip) assert(written.nonEmpty && written.forall(_.fileName.endsWith(".gz")), name)
      if (scheme.nonEmpty) assert(fs.isInstanceOf[GraftTestFs], s"$name: ${fs.getClass}")
    }
  }

  test("gzip json sink hashes stored files and round-trips through the reader") {
    val dir = Files.createTempDirectory("graft-sinkgz").toString + "/out"
    val manifest = FileSink.write(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, format = "json", gzip = true)
    assert(manifest.exists(_.fileName.endsWith(".gz")))
    // NumRecs counts DECOMPRESSED records, not compressed-byte newlines
    assert(manifest.map(_.numRecs).sum == 2)
    // hash is over the stored (compressed) bytes
    val m = manifest.find(_.fileName.endsWith(".gz")).get
    val stored = Files.readAllBytes(java.nio.file.Paths.get(dir, m.fileName))
    val h = java.security.MessageDigest.getInstance("SHA-256").digest(stored)
      .map("%02x".format(_)).mkString
    assert(h == m.hash)
    // S4: the file consumer decompresses natively
    val back = spark.read.json(dir)
    assert(back.count() == 2)
    assert(back.filter(back("k") === 1).head().getAs[String]("v") == "a")
  }
}

class StateStoreSpec extends SparkSuite {
  import graft.state.StateStore
  import graft.state.StateStore.Registration

  test("registration lifecycle: register -> sync -> deregister") {
    val st = new StateStore(Files.createTempDirectory("graft-state").toString)
    val r = Registration("svc", "cl1", "db1", "t1", "mysql", "kafka", "json",
      params = Map("NoDeleteOnUpdate" -> "true"))
    st.register(r)
    assert(st.listRegistrations.map(_.key) == Seq(r.key))
    assert(st.listRegistrations.head.state == "unsynced")
    assert(st.listRegistrations.head.params("NoDeleteOnUpdate") == "true")
    st.markSynced(r.key)
    assert(st.listRegistrations.head.state == "synced")
    // re-register same key replaces, not duplicates (ON DUPLICATE KEY semantics)
    st.register(r.copy(outputFormat = "avro"))
    assert(st.listRegistrations.size == 1)
    assert(st.listRegistrations.head.outputFormat == "avro")
    st.deregister(r.key)
    assert(st.listRegistrations.isEmpty)
  }

  test("params with quotes, commas, colons and newlines round-trip intact") {
    // a RowFilter param is arbitrary SQL — the store must be a real JSON
    // reader, not a regex splitter
    val st = new StateStore(Files.createTempDirectory("graft-state4").toString)
    val hostile = Map(
      "RowFilter" -> """c_name LIKE "O'Brien, \"Jr\"" AND c_id IN (1,2)""",
      "note" -> "line1\nline2\ttabbed",
      "k:v,weird\"key" -> "{\"nested\":\"json\"}")
    val r = Registration("svc", "cl1", "db1", "t1", "mysql", "file", "json",
      params = hostile)
    st.register(r)
    assert(st.listRegistrations.head.params == hostile)
    // gtid/cluster strings with quotes survive the positions log too
    st.savePosition("""cl"1""", 5L, """uuid:1-3,uu"id2:7""")
    assert(st.lastPosition("""cl"1""").map(_.gtid).contains("""uuid:1-3,uu"id2:7"""))
  }

  test("schema versions: latest wins, survives json round-trip") {
    import org.apache.spark.sql.types._
    val st = new StateStore(Files.createTempDirectory("graft-state2").toString)
    val v1 = StructType(Seq(StructField("f1", LongType, nullable = false)))
    val v2 = v1.add(StructField("f2", StringType))
    st.pushSchema("db1", "t1", "gtid:1", v1)
    st.pushSchema("db1", "t1", "gtid:2", v2)
    assert(st.currentSchema("db1", "t1").contains(v2))
    assert(st.currentSchema("db1", "nope").isEmpty)
  }

  test("positions: seqno high-watermark restores monotone") {
    val st = new StateStore(Files.createTempDirectory("graft-state3").toString)
    st.savePosition("cl1", 1000000L, "uuid:1-500")
    st.savePosition("cl1", 2000000L, "uuid:1-900")
    assert(st.lastPosition("cl1").map(_.seqno).contains(2000000L))
    assert(st.lastPosition("cl1").map(_.gtid).contains("uuid:1-900"))
    assert(st.lastPosition("other").isEmpty)
  }
}
