package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.changelog.Changelog
import graft.encode.CommonFormatJson
import graft.pipes.{EpochFileSink, FileSink}
import graft.stream.Streamer

/** Reads what [[EpochFileSink]] wrote under a directory. */
object EpochFiles {
  private val json = new ObjectMapper()

  def epochDirs(dir: String): Seq[(Long, File)] =
    new File(dir).listFiles().toSeq.filter(_.getName.startsWith("epoch="))
      .map(f => f.getName.stripPrefix("epoch=").toLong -> f).sortBy(_._1)

  /** (epoch, CF record) for every line of every epoch file, in epoch and
    * then line order.
    */
  def records(dir: String): Seq[(Long, JsonNode)] =
    epochDirs(dir).flatMap { case (epoch, d) =>
      Files.readAllLines(d.toPath.resolve(EpochFileSink.FileName)).asScala.toSeq
        .map(l => epoch -> json.readTree(json.readTree(l).get("value").asText()))
    }

  /** `_DONE` as (NumRecs, Hash) pairs, file names left out. */
  def done(epochDir: File): Seq[(Long, String)] =
    json.readTree(new File(epochDir, "_DONE")).elements().asScala.toSeq
      .map(e => (e.get("NumRecs").asLong, e.get("Hash").asText))

  /** The per-epoch write the sink replaced: expand, seqno window,
    * `encodeRows`, then `FileSink.write` into `dir/epoch=N`, in a
    * `foreachBatch`.
    */
  def control(changelog: DataFrame, pk: Seq[String], payload: Seq[String], order: Seq[String],
              checkpoint: String, dir: String): Unit =
    changelog.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val expanded = Changelog.expandUpdates(batch).coalesce(1)
        val w = Window.orderBy((order.map(col) :+ col("half")).map(_.asc): _*)
        val s = expanded.withColumn("seqno",
          Changelog.epochSeqno(epoch + 1, row_number().over(w).cast("long")))
        FileSink.write(s.select(CommonFormatJson.encodeRows(s, pk, payload).as("value")),
          s"$dir/epoch=$epoch", "json")
        ()
      }
      .start()
      .awaitTermination()
}

case class CfRow(op: String, ts: Timestamp, id: Long, v: String)

class EpochFileSinkSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String = Files.createTempDirectory(s"graft-$tag").toString

  /** Each sink epoch's file equals the control's, byte for byte, and the
    * two `_DONE`s agree on NumRecs and Hash.
    */
  private def assertSameEpochs(sink: String, control: String, entries: Seq[FileSink.Manifest]): Unit = {
    val ours = EpochFiles.epochDirs(sink)
    val theirs = EpochFiles.epochDirs(control)
    assert(ours.map(_._1) == theirs.map(_._1) && ours.nonEmpty)
    for (((epoch, o), (_, t)) <- ours.zip(theirs)) {
      val data = t.listFiles().map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
      assert(data.length == 1, s"epoch $epoch control files ${data.mkString(",")}")
      val want = Files.readAllBytes(new File(t, data.head).toPath)
      val got = Files.readAllBytes(new File(o, EpochFileSink.FileName).toPath)
      assert(new String(got, "UTF-8") == new String(want, "UTF-8"), s"epoch $epoch")
      assert(got.sameElements(want), s"epoch $epoch")
      assert(EpochFiles.done(o) == EpochFiles.done(t), s"epoch $epoch _DONE")
    }
    assert(entries.map(m => (m.numRecs, m.hash)) == theirs.flatMap(e => EpochFiles.done(e._2)))
    assert(entries.forall(_.fileName == EpochFileSink.FileName))
  }

  test("epoch files are byte-identical to FileSink.write of encodeRows on the 12-txn binlog") {
    val work = tmp("epochparity")
    val entries = Streamer.changelogPhase(TxnBinlog.changelog(spark, work), Seq("id"),
      Seq("id", "name"), Seq("seq"), s"$work/ckpt", s"$work/log").await()
    EpochFiles.control(TxnBinlog.changelog(spark, work), Seq("id"), Seq("id", "name"), Seq("seq"),
      s"$work/ckpt-control", s"$work/control")
    assert(EpochFiles.epochDirs(s"$work/log").size == 6)
    assert(entries.map(_.numRecs).sum == 12 + 3)
    assertSameEpochs(s"$work/log", s"$work/control", entries)
  }

  test("head + seqno + tail is eventJson, and the written lines are the json writer's") {
    implicit val sqlCtx = spark.sqlContext
    val ts = Timestamp.valueOf("2024-03-01 12:34:56.789")
    val rows = Seq(
      CfRow("insert", ts, 1, "plain"),
      CfRow("insert", Timestamp.valueOf("2024-03-01 00:00:00"), 2, "q\"uo\\te / back\\\\slash"),
      CfRow("update", ts, 3, "line\nbreak\r\ttab \b\f \u0001\u001f\u007f end"),
      CfRow("insert", ts, 4, null),
      CfRow("delete", ts, 5, "gone"),
      CfRow("insert", null, 6, "naïve ☃ Ünïcödé 日本   😀"),
      CfRow("update", ts, 7, "{\"json\":[1,2]}"))
    val pk = Seq("id")
    val payload = Seq("ts", "id", "v")

    // the column form: every event is head + seqno + tail
    val df = Changelog.expandUpdates(rows.toDF()).withColumn("seqno", col("id") * 1000003L)
    val split = CommonFormatJson.encodeSplit(df, pk, payload)
    val pairs = df.select(CommonFormatJson.encodeRows(df, pk, payload),
      concat(split.head, col("seqno").cast("string"), split.tail)).collect()
    assert(pairs.length == rows.size + 2)
    pairs.foreach(r => assert(r.getString(0) == r.getString(1)))
    assert(pairs.exists(_.getString(0).startsWith("""{"Type":"delete","Key":[5],"SeqNo":""")))

    // the file form: the sink's escaping is the json writer's
    val work = tmp("epochsplit")
    val stream = MemoryStream[CfRow]
    stream.addData(rows)
    val entries = Streamer.changelogPhase(stream.toDF(), pk, payload, Seq("id"), s"$work/ckpt",
      s"$work/log").await()
    val control = MemoryStream[CfRow]
    control.addData(rows)
    EpochFiles.control(control.toDF(), pk, payload, Seq("id"), s"$work/ckpt-control", s"$work/control")
    assert(entries.map(_.numRecs) == Seq(rows.size + 2L))
    assertSameEpochs(s"$work/log", s"$work/control", entries)
  }

  test("an epoch that reaches the writer in two partitions fails instead of numbering seqnos twice") {
    implicit val sqlCtx = spark.sqlContext
    val work = tmp("epochparts")
    val stream = MemoryStream[CfRow]
    stream.addData(CfRow("insert", null, 1, "a"))
    stream.addData(CfRow("insert", null, 2, "b"))
    val rows = Changelog.expandUpdates(stream.toDF())
    val split = CommonFormatJson.encodeSplit(rows, Seq("id"), Seq("id", "v"))
    val run = EpochFileSink.start(rows.select(col("id"), col("half"),
      split.head.as(EpochFileSink.Head), split.tail.as(EpochFileSink.Tail)),
      Seq("id", "half"), s"$work/log", s"$work/ckpt")
    val e = intercept[Exception](run.await())
    assert(e.getMessage.contains("one ordered task per epoch"), e.getMessage)
    assert(!new File(s"$work/log/epoch=0/_DONE").exists())
  }

  test("a replayed epoch rewrites the same file, _DONE and seqnos, and leaves no .open file") {
    val work = tmp("epochreplay")
    def run() = Streamer.changelogPhase(TxnBinlog.changelog(spark, work), Seq("id"),
      Seq("id", "name"), Seq("seq"), s"$work/ckpt", s"$work/log").await()
    def snapshot(): Map[String, Seq[Byte]] = {
      val root = Paths.get(s"$work/log")
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    }
    val first = run()
    val before = snapshot()
    assert(first.size == 6)

    // the last epoch ran but its commit never reached the checkpoint, and
    // an earlier writer left a stale data file and a dead attempt's temp
    val last = EpochFiles.epochDirs(s"$work/log").last._2
    Seq("commits/5", "commits/.5.crc").foreach(f => Files.deleteIfExists(Paths.get(s"$work/ckpt/$f")))
    Files.writeString(new File(last, "part-00000-0b5c-c000.json").toPath, "{\"value\":\"stale\"}\n")
    Files.writeString(new File(last, ".part-00000-7-dead.open").toPath, "{\"value\":")

    val replayed = run()
    assert(replayed == first.takeRight(1), "only the uncommitted epoch runs again")
    assert(Files.exists(Paths.get(s"$work/ckpt/commits/5")))
    val after = snapshot()
    assert(after.keySet == before.keySet, (after.keySet -- before.keySet, before.keySet -- after.keySet))
    after.foreach { case (name, bytes) => assert(bytes == before(name), name) }
    assert(!after.keys.exists(_.endsWith(".open")))
  }
}
