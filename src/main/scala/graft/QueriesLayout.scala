package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{SessionConf, Tables, Tmp}

/** Physical-layout operators: the data-ORGANIZATION layer that decides
  * whether a 100 TB table is scannable — bucketed co-located joins (the
  * shuffle you pay once at write time instead of on every join), partition
  * pruning (directories as a coarse index), Z-order multi-dimensional
  * clustering (min/max file skipping on two keys at once), bloom-filter
  * semi-join pruning (the eval-set join that scales past broadcastable),
  * and SCD2 history build (what a CDC changelog becomes in the lake).
  *
  * The reference ships data INTO a lake (HDFS/S3 file sinks,
  * /root/reference/pipe/file.go) but leaves layout to the reader; these
  * operators are that missing half, Spark-first.
  *
  * Fixture writes (bucketed tables, partitioned dirs) are staged through
  * [[graft.core.Tmp.stagedOnce]] — per-process, content-keyed paths, so
  * concurrent Verify/Bench JVMs never race one another — and built once
  * per JVM so bench repeats measure the READ side, the way a production
  * job reads a layout written once.
  */
object QueriesLayout {

  // ------------------------------------------------------------- bucketing

  /** Bucketed co-located join: lineitem and orders both written bucketed
    * (and sorted) by order key into 8 buckets, then sort-merge joined.
    * Neither side shuffles — the plan's only Exchange is the tiny
    * post-join rollup. This is THE big-table-join answer at 100 TB: the
    * keyed shuffle is paid once at ingest (a pipeline that lands CDC
    * output bucketed amortizes it over every downstream join); bucket
    * count scales with data volume, and co-bucketed tables join with
    * zero data movement forever after. Guarded by LayoutSpec: no
    * Exchange anywhere under the SortMergeJoin.
    */
  def bucketJoin(s: SparkSession, dir: String): DataFrame = {
    val base = Tmp.staged("bkt", dir)
    def ensureTable(name: String, df: DataFrame, keyCol: String): String = {
      // the staged dir name carries the content hash: a refreshed dataset
      // re-lands the bucketed table instead of reusing the stale catalog entry
      val table = s"graft_${java.nio.file.Paths.get(base).getFileName}_$name"
      if (!s.catalog.tableExists(table)) {
        df.write.mode("overwrite")
          .bucketBy(8, keyCol).sortBy(keyCol)
          .option("path", s"$base/$name")
          .format("parquet").saveAsTable(table)
      }
      table
    }
    val li = s.table(ensureTable("lineitem",
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_extendedprice"),
        col("l_discount")), "l_orderkey"))
    val ord = s.table(ensureTable("orders",
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
      "o_orderkey"))
    li.hint("merge") // force SMJ so the co-located layout (not a broadcast) is what's exercised
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long")).as("revenue_cents"))
  }

  // ----------------------------------------------------- partition pruning

  /** Partition-pruned scan: events written `partitionBy(event_type)` (the
    * directory layout a streaming file sink produces), then read with a
    * partition-key predicate + rollup. The filter resolves at PLANNING
    * time against directory names — the scan never opens a file of
    * another partition, which at 100 TB is the difference between
    * reading one event type and reading all of them. LayoutSpec asserts
    * the predicate lands in PartitionFilters, not in post-scan Filter.
    */
  def partitionPrune(s: SparkSession, dir: String): DataFrame = {
    val path = Tmp.stagedOnce("partev", dir) { p =>
      Tables.events(s, dir)
        .write.mode("overwrite").partitionBy("event_type").parquet(p)
      p
    }
    s.read.parquet(path)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
  }

  // --------------------------------------------------------------- z-order

  /** Z-order clustering stats: interleave the bits of two join/filter
    * dimensions (part key, supplier key) into one Morton code, cluster by
    * its high bits, and emit each cluster's count + per-dimension min/max
    * bounding box. Range-partitioning files by zval is how a lake table
    * serves selective queries on EITHER dimension from one layout: the
    * bounding boxes ARE the parquet row-group min/max stats a reader
    * skips with, and interleaving keeps both boxes tight simultaneously
    * (a single-column sort keeps one tight and lets the other span the
    * whole domain). Pure integer bit arithmetic — identical in any
    * engine, so the DuckDB oracle recomputes it exactly.
    */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val zx = col("zx")
    val zy = col("zy")
    val zval = (0 until 16).map { i =>
      shiftleft(shiftright(zx, i).bitwiseAND(1), 2 * i)
        .bitwiseOR(shiftleft(shiftright(zy, i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    Tables.lineitem(s, dir)
      .select((col("l_partkey") % 65536).cast("long").as("zx"),
        (col("l_suppkey") % 65536).cast("long").as("zy"))
      .select(zx, zy, zval.as("zval"))
      .groupBy(shiftright(col("zval"), 16).as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("zx")).as("min_x"), max(col("zx")).as("max_x"),
        min(col("zy")).as("min_y"), max(col("zy")).as("max_y"))
  }

  /** DuckDB side of the Morton interleave, generated from the same loop
    * so the two engines can never drift.
    */
  private[graft] def zvalSql(x: String, y: String): String =
    (0 until 16).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " | ", ")")

  // ---------------------------------------------------- bloom-filter prune

  /** Bloom-pruned decontamination: the eval-set gram join
    * ([[QueriesTraining.decontaminate]]) with a bloom-filter pre-pass.
    * The eval grams aggregate into a ~1.2-byte-per-item sketch on the
    * driver, broadcast everywhere, and the corpus side drops non-matching
    * grams BEFORE the exact join; the exact join then kills the false
    * positives, so the result is bit-identical to the exact query. At
    * 100 TB this is what keeps the pattern alive when the eval/blocklist
    * side outgrows a broadcastable hash relation: a 100 M-gram suite is
    * a ~150 MB bloom vs many GB of broadcast hash map, and the sketch
    * prunes the (explode-amplified) corpus stream at scan speed.
    *
    * Sketch build AND probe are Spark's own codegen'd bloom expressions
    * (the machinery behind AQE runtime filters) over `xxhash64(gram)` —
    * no Scala closure anywhere in the probe path, so the pre-prune stays
    * inside whole-stage codegen. The sketch travels as a binary literal
    * in the plan (metadata-sized, exactly like an injected runtime
    * filter); the probe column is hashed once and checked against bits.
    */
  def bloomPrune(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        explode(array_distinct(QueriesTraining.wordNgrams(col("ws"), 3))).as("gram"))
    val evalGrams = grams.filter(col("doc_id") % 17 === 0)
      .select(col("gram")).distinct()
    // SIZE THE SKETCH FROM THE DATA (r17 verdict task 3): the previous
    // fixed 2^17-item sketch was right for fixture-scale eval sets but
    // saturates on a corpus-proportional one (8.9M eval grams at sf100
    // would drive the FPP toward 1 and the pre-prune would pass
    // everything — silently degrading to the unpruned join). One count of
    // the eval side (the SMALL side by design) sizes the bloom at ~10
    // bits/item ≈ 1% FPP; Spark's conf caps (4M items / 64M bits) exist
    // for OPTIMIZER-INJECTED runtime filters and are raised scoped to
    // this explicit build. The sketch stays metadata-sized relative to
    // the hash relation it replaces: 8.9M grams ≈ 11 MB of bits vs
    // ~0.7 GB broadcast — the ratio that keeps the pattern alive when
    // the eval side grows.
    val evalCount = math.max(1L, evalGrams.count())
    val numBits = math.max(1L << 20, evalCount * 10)
    val sketch = {
      val items = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
      val bits = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
      SessionConf.scoped(s,
          items -> math.max(s.conf.get(items).toLong, evalCount).toString,
          bits -> math.max(s.conf.get(bits).toLong, numBits).toString) {
        val bloom = new BloomFilterAggregate(
          GraftColumnBridge.expression(xxhash64(col("gram"))),
          Literal(evalCount), Literal(numBits))
        evalGrams
          .agg(GraftColumnBridge.column(bloom.toAggregateExpression()).as("bf"))
          .head.getAs[Array[Byte]](0)
      }
    }
    // BROADCAST→SHUFFLE SWITCH for the exact verify: the survivors of the
    // bloom pre-prune are hits + ~1% false positives — small — but the
    // BUILD side (the eval grams) is what outgrows a broadcast. The
    // shared QueriesTraining.evalVerifySide picks the join strategy
    // (broadcast-hash below the 50M-gram cap, SHUFFLE_HASH keyed on the
    // gram above it — the pruned stream's shuffle is survivor-sized, not
    // corpus-sized); this call site has the EXACT eval count in hand
    // (paid for sketch sizing), so no estimate is involved. Results are
    // bit-identical either way — a one-off probe (`git show
    // 9f24135:src/main/scala/graft/tools/DecontScaleProbe.scala`) proved
    // both paths at 258M grams.
    val verifySide = QueriesTraining.evalVerifySide(evalGrams, evalCount)
    grams.filter(col("doc_id") % 17 =!= 0)
      // sketch pre-prune (false positives possible), codegen'd bit probe
      .filter(GraftColumnBridge.column(BloomFilterMightContain(
        Literal(sketch), GraftColumnBridge.expression(xxhash64(col("gram"))))))
      .join(verifySide, "gram") // exact verify: false positives die here
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_grams"))
  }

  // ------------------------------------------------------------------ scd2

  /** SCD type-2 history build: per-user purchase value as a versioned
    * dimension — consecutive duplicate values collapse (no-op updates
    * emit no version), each surviving change opens an interval
    * [valid_from, valid_to) closed by the next change, latest row flagged
    * current. This is what a CDC changelog BECOMES in the lake: the
    * reference streams row images ([/root/reference/changelog/mysql.go]);
    * the warehouse wants queryable history.
    *
    * One shuffle total: both window passes and the change-collapse filter
    * share the (user_id) partitioning, so lag-dedup, versioning and
    * interval close run in a single exchanged sort.
    */
  def scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tms"), col("event_id"))
    val changes = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("tms"),
        round(col("value") * 100).cast("long").as("value_cents"))
      .withColumn("prev_cents", lag(col("value_cents"), 1).over(w))
      .filter(col("prev_cents").isNull || col("prev_cents") =!= col("value_cents"))
    changes
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col("tms"), 1).over(w))
      .select(col("user_id"), col("version"), col("value_cents"),
        col("tms").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  // ---------------------------------------------------- copy-on-write merge

  /** Copy-on-write CDC upsert into a partitioned lake table — the write
    * side of what the reference's file sinks feed: a keyed state table
    * partitioned by `bucket = user_id % 16`, a CDC delta merged in by
    * REWRITING ONLY THE PARTITIONS THE DELTA TOUCHES, and a versioned
    * layout (v0 base + v1 rewrites) whose reader resolves
    * latest-version-per-partition — the Hudi/Iceberg COW shape in plain
    * Spark + parquet.
    *
    * Every driver-side step is metadata-sized (the touched-bucket list —
    * the role a table format's manifest plays); the data path is two
    * keyed aggregations and one partition-pruned state read. At 100 TB a
    * delta touching 4 of 16 buckets reads and rewrites 1/4 of the table;
    * the untouched partitions are never opened — LayoutSpec asserts the
    * merge scan carries the bucket predicate in PartitionFilters and
    * that v1 holds only the touched buckets.
    *
    * Fixture writes are memoized per JVM like the other layout queries
    * (the merge is NOT idempotent — re-merging the same delta would
    * double-count — which is exactly why real COW tables fence commits
    * with a manifest version; `Tmp.stagedOnce` is that fence here).
    */
  def cowUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tmp.stagedOnce("cow", dir) { base =>
      val v0 = s"$base/v0"
      val v1 = s"$base/v1"
      val ev = Tables.events(s, dir).select(col("user_id"),
        (col("user_id") % 16).cast("int").as("bucket"),
        round(col("value") * 100).cast("long").as("cents"),
        col("event_id"))
      // the delta: late-arriving events, concentrated on buckets 0-3
      val isDelta = (col("event_id") % 5 === 4) && (col("user_id") % 16 < 4)
      def rollup(df: DataFrame) = df.groupBy(col("user_id"), col("bucket"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
      rollup(ev.filter(!isDelta))
        .write.mode("overwrite").partitionBy("bucket").parquet(v0)
      val delta = rollup(ev.filter(isDelta))
      val touched = delta.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).sorted // manifest-sized (<= 16 values)
      // an empty delta is a no-op commit: write no v1 at all (an empty
      // partitioned dir would break the reader's schema inference)
      if (touched.nonEmpty) {
        val state = s.read.parquet(v0)
          .filter(col("bucket").isin(touched.map(Int.box): _*)) // partition-pruned
        state.unionByName(delta)
          .groupBy(col("user_id"), col("bucket"))
          .agg(sum(col("n_events")).as("n_events"), sum(col("cents")).as("cents"))
          .write.mode("overwrite").partitionBy("bucket").parquet(v1)
      }
      base
    }
    val v0 = s"$base/v0"
    val v1 = s"$base/v1"
    // reader: v1 partitions shadow v0 (latest-version-per-partition); when
    // the delta was empty there is no v1 and the base version serves alone
    val merged =
      if (!new java.io.File(v1).isDirectory) s.read.parquet(v0)
      else {
        val v1Buckets = s.read.parquet(v1).select(col("bucket")).distinct()
          .collect().map(_.getInt(0)) // partition listing, no data columns read
        s.read.parquet(v0)
          .filter(!col("bucket").isin(v1Buckets.map(Int.box): _*))
          .unionByName(s.read.parquet(v1))
      }
    merged.select(col("user_id"), col("bucket").cast("long").as("bucket"),
      col("n_events"), col("cents"))
  }

  // ------------------------------------------------------- schema evolution

  /** Schema-evolution read: a lake table whose early files predate a
    * column (the lake half of DDL propagation — O9 ships the ALTER
    * through the stream; the files already written never change). Old
    * files carry (user_id, cents); post-ALTER files add event_type.
    * `mergeSchema` unifies at read time: the union schema, nulls for the
    * column the old files lack — no rewrite of historical data, which at
    * 100 TB is the only acceptable answer to ADD COLUMN.
    *
    * The aggregate separates rows by whether the evolved column is
    * present, so the oracle checks the null-fill semantics, not just the
    * union schema.
    */
  def schemaMerge(s: SparkSession, dir: String): DataFrame = {
    val path = Tmp.stagedOnce("schmerge", dir) { p =>
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"), col("event_type"))
      ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("cents")) // pre-ALTER schema
        .write.mode("overwrite").parquet(s"$p/old")
      ev.filter(col("event_id") % 2 === 1) // post-ALTER: + event_type
        .write.mode("overwrite").parquet(s"$p/new")
      p
    }
    s.read.option("mergeSchema", "true").parquet(s"$path/old", s"$path/new")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("cents"),
        count(col("event_type")).as("n_typed"), // nulls (old files) don't count
        countDistinct(col("event_type")).as("n_types"))
  }

  // --------------------------------------------------- incremental LSH index

  /** Incremental signature-index maintenance: the corpus's MinHash
    * signatures live in a persisted SIGNATURE STORE (computed once, at
    * ingest); when new documents arrive, only THEIR signatures are
    * computed, unioned with the store, and banded — the 99% that didn't
    * change is read back as 8 fixed-width columns, never re-shingled,
    * never re-hashed. The oracle is the full-recompute bucket summary,
    * so the hash match PROVES incremental == full — the property that
    * makes a 100 TB dedup index affordable to keep current (per-delta
    * cost scales with the delta, not the corpus).
    */
  def incrIndex(s: SparkSession, dir: String): DataFrame = {
    import graft.analytics.Dedup
    val path = Tmp.stagedOnce("sigstore", dir) { p =>
      Dedup.minhashWideNative(
          Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0),
          "doc_id", col("text"), k = 8, numHashes = 8)
        .write.mode("overwrite").parquet(p)
      p
    }
    val stored = s.read.parquet(path)
    val delta = Dedup.minhashWideNative(
      Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
      "doc_id", col("text"), k = 8, numHashes = 8)
    Dedup.lshBuckets(
      Dedup.bandKeysFromWide(stored.unionByName(delta), "doc_id",
        numHashes = 8, rowsPerBand = 4),
      "doc_id")
  }

  /** Small-file compaction — the lake-maintenance operator every
    * long-running CDC sink needs: a partitioned table fragmented into
    * dozens of tiny files per partition (micro-batch sinks produce one
    * file per trigger per partition) is rewritten into right-sized
    * files. Slot count per partition value comes from the partition's
    * row count (metadata-sized driver state, the role a table format's
    * manifest plays); rows shuffle ONCE keyed by (partition, slot), so
    * a 10-billion-row partition compacts through ceil(rows/cap)
    * PARALLEL tasks — never through one task per partition value, which
    * is the naive repartition(partitionCol) trap at 100 TB. The
    * records-per-file cap backstops slot skew.
    *
    * The catalog row proves READ-BACK correctness (compacted content ==
    * source, via the DuckDB aggregate); LayoutSpec proves the layout
    * property (file counts shrink to ~slot count, cap honored).
    */
  def compaction(s: SparkSession, dir: String): DataFrame = {
    val cap = 2500L
    val v1 = Tmp.stagedOnce("compact", dir) { base =>
      val v0 = s"$base/v0"
      val v1 = s"$base/v1"
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      // fragmented state: many tiny files per partition dir
      ev.repartition(24).write.mode("overwrite")
        .partitionBy("event_type").parquet(v0)
      // compaction plan: slots per partition value from row counts
      // (manifest-sized: one row per partition value)
      val slots = s.read.parquet(v0).groupBy(col("event_type")).count()
        .collect().map(r => r.getString(0) -> math.max(1L, (r.getLong(1) + cap - 1) / cap))
        .toMap
      val slotExpr = slots.foldLeft(lit(0L)) { case (acc, (t, n)) =>
        when(col("event_type") === t, pmod(col("event_id"), lit(n))).otherwise(acc)
      }
      s.read.parquet(v0)
        .repartition(col("event_type"), slotExpr)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", cap)
        .partitionBy("event_type").parquet(v1)
      v1
    }
    s.read.parquet(v1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("cents"),
        countDistinct(col("user_id")).as("n_users"))
  }

  // ------------------------------------------------------ write-audit-publish

  /** The WAP kernel: stage the DataFrame as files, audit WHAT WAS
    * WRITTEN (read back from the staged files, not the logical plan —
    * the audit must catch writer bugs too), and only then create the
    * `_PUBLISHED` marker, whose single-file creation is the commit
    * point (the same role FileSink's `_DONE` manifest plays). Audits:
    * non-empty, PK-unique, no null measures. Returns whether the
    * version published; a red audit leaves the staged files
    * reader-invisible. LayoutSpec drives the failure path with a
    * poisoned (duplicate-key) stage.
    */
  private[graft] def wapStageAuditPublish(s: SparkSession, staged: DataFrame,
      keyCol: String, valCol: String, base: String): Boolean = {
    val stagedPath = s"$base/staged"
    staged.write.mode("overwrite").parquet(stagedPath)
    val a = s.read.parquet(stagedPath).groupBy()
      .agg(count(lit(1)).as("rows"),
        countDistinct(col(keyCol)).as("keys"),
        sum(when(col(valCol).isNull, 1L).otherwise(0L)).as("nulls"))
      .head
    val ok = a.getLong(0) > 0 && a.getLong(0) == a.getLong(1) && a.getLong(2) == 0
    if (ok) {
      // Commit point must be a single atomic file op (the claim the
      // scaladoc makes): write to a temp sibling, then ATOMIC_MOVE into
      // place — a crash mid-write can never leave a torn marker, only
      // no marker (stage stays invisible) or a complete one. Same
      // discipline as FileSink's _DONE manifest.
      val marker = new java.io.File(base, "_PUBLISHED").toPath
      val tmp = new java.io.File(base, "._PUBLISHED.tmp").toPath
      java.nio.file.Files.writeString(tmp, s"rows=${a.getLong(0)}\n")
      java.nio.file.Files.move(tmp, marker,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    ok
  }

  /** Write-audit-publish — the lake-ops commit discipline every
    * production 100 TB sink needs: a staged version becomes readable
    * ONLY after its audits pass, so a bad upstream batch can never
    * poison consumers. The audit pass is metadata-cheap (one aggregate
    * over the staged files); the publish is one marker-file create.
    * The catalog row proves the GREEN path end-to-end (readers resolve
    * the manifest, content hash-matches the source rollup); the red
    * path — staged-but-never-published — is LayoutSpec's.
    */
  def wapPublish(s: SparkSession, dir: String): DataFrame = {
    val base = Tmp.stagedOnce("wap", dir) { base =>
      new java.io.File(base).mkdirs()
      val rollup = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
      wapStageAuditPublish(s, rollup, "user_id", "cents", base)
      base
    }
    // the reader side of the contract: no marker, no data
    require(new java.io.File(base, "_PUBLISHED").isFile,
      "fixture rollup must audit green")
    s.read.parquet(s"$base/staged")
      .select(col("user_id"), col("n_events"), col("cents"))
  }

  // ------------------------------------------------ exactly-once stream sink

  /** One micro-batch through the WAP kernel, fenced by batchId:
    * Structured Streaming's foreachBatch contract is AT-LEAST-once (a
    * failure after the sink write but before the checkpoint commit
    * re-delivers the batch), so the sink must make re-application a
    * no-op. The fence is the version's `_PUBLISHED` marker itself — if
    * batch N already committed, the redelivery returns without touching
    * the staged files. Marker-create is a single atomic file op, so a
    * crash mid-batch leaves either an unpublished stage (invisible,
    * restaged on redelivery) or a complete published version — never a
    * torn one. Returns true iff THIS call published.
    */
  private[graft] def wapBatch(s: SparkSession, batch: DataFrame, batchId: Long,
      base: String, keyCol: String, valCol: String): Boolean = {
    val vdir = s"$base/v$batchId"
    if (new java.io.File(vdir, "_PUBLISHED").isFile) false // redelivery fence
    else {
      new java.io.File(vdir).mkdirs()
      wapStageAuditPublish(s, batch, keyCol, valCol, vdir)
    }
  }

  /** foreachBatch body for the exactly-once stream sink. [[wapBatch]]
    * returns false for BOTH the redelivery fence (fine: the version
    * already committed) and a red audit on a fresh stage (NOT fine:
    * letting the micro-batch checkpoint commit would silently and
    * permanently drop the batch). Distinguish via the marker: if the
    * version was not already published and the publish did not happen,
    * throw — Spark fails the stream instead of committing the
    * checkpoint past lost data, and the batch is redelivered on
    * restart. LayoutSpec drives the poisoned-fresh-batch path.
    */
  private[graft] def wapBatchOrFail(s: SparkSession, batch: DataFrame,
      batchId: Long, base: String, keyCol: String, valCol: String): Unit = {
    val fenced = new java.io.File(s"$base/v$batchId", "_PUBLISHED").isFile
    if (!wapBatch(s, batch, batchId, base, keyCol, valCol) && !fenced)
      throw new IllegalStateException(
        s"batch $batchId failed the WAP audit; refusing to commit the " +
          "checkpoint past an unpublished stage")
  }

  /** Reader side of the stream-WAP contract: only marker-bearing
    * versions exist. An unpublished stage (red audit, or crash before
    * commit) is invisible.
    */
  private[graft] def publishedVersions(base: String): Seq[String] =
    Option(new java.io.File(base).listFiles()).getOrElse(Array.empty[java.io.File])
      .toSeq
      .filter(f => f.isDirectory && f.getName.matches("v\\d+")
        && new java.io.File(f, "_PUBLISHED").isFile)
      // numeric order on the batch id — lexicographic path sort puts
      // v10 before v2, which breaks any latest-version / commit-order
      // consumer once batch ids reach double digits
      .sortBy(f => f.getName.drop(1).toLong)
      .map(f => s"${f.getPath}/staged")

  /** EXACTLY-ONCE streaming lake ingestion — the commit discipline a
    * production CDC→lake sink needs, composed from pieces the catalog
    * already proves separately: a file-source stream delivers the corpus
    * over 4 micro-batches (at-least-once), each batch stages + audits +
    * publishes as its own fenced version ([[wapBatch]]), and after the
    * drain a batch-0 REDELIVERY is applied on purpose — the fence must
    * skip it, and the hash gate proves the published table still holds
    * every event exactly once (count + sum + min/max per key would all
    * shift on a duplicated or dropped batch). At 100 TB each version
    * commit is one marker-file create and the audit is one aggregate
    * over the batch (not the table); version count is bounded by
    * compaction ([[compaction]]) downstream.
    */
  def streamWap(s: SparkSession, dir: String): DataFrame = {
    val base = Tmp.stagedOnce("swap", dir) { base =>
      val srcPath = s"$base/src"
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .repartition(4).write.mode("overwrite").parquet(srcPath)
      Tmp.replay("graft-swap-ckpt") { ckpt =>
        s.readStream.schema("event_id bigint, user_id bigint, cents bigint")
          .option("maxFilesPerTrigger", "1").parquet(srcPath)
          .writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            wapBatchOrFail(s, b, id, base, "event_id", "cents")
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      // deliberate batch-0 redelivery: the fence must skip it
      val replay = s.read.parquet(s"$base/v0/staged")
      require(!wapBatch(s, replay, 0L, base, "event_id", "cents"),
        "redelivered batch must hit the publish fence")
      base
    }
    s.read.parquet(publishedVersions(base): _*)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"),
        min(col("event_id")).as("first_event"), max(col("event_id")).as("last_event"))
  }

  // ---------------------------------------------------- incremental version read

  /** Incremental read between two table versions — the READER half of the
    * lake's version story (q_wap_publish commits versions; this turns a
    * pair of them back into a CDC changelog: insert / update / delete with
    * pre- and post-images). It is the reference's pipeline inverted — the
    * engine ships changelogs INTO the lake; a downstream consumer at
    * 100 TB needs the lake to hand the delta BACK OUT without rereading
    * the corpus (index refresh, downstream re-train, replication).
    *
    * Sibling of q_snapshot_diff (`QueriesCdc.snapshotDiff`), which is the
    * LOGICAL diff — both versions fully scanned inside one plan. This is
    * the PHYSICAL one: versions live as partitioned files, and a
    * manifest-style fingerprint pass decides which partitions the diff
    * may skip entirely — the property that matters when the table is
    * 100 TB and the delta is 0.1%.
    *
    * Scale shape: a per-bucket FINGERPRINT pass first (one aggregate row
    * per partition per version — metadata-sized, the role a table
    * format's manifest stats play), then the key-level full-outer diff
    * runs ONLY over buckets whose fingerprints differ: both scans carry
    * the changed-bucket predicate in PartitionFilters, so a delta
    * touching 7 of 16 buckets never opens the other 9 — at 100 TB the
    * diff cost tracks the CHANGE, not the table. LayoutSpec asserts the
    * skip list and that identical versions diff to zero rows without
    * reading any data bucket.
    *
    * Fixture versions derive deterministically from events: v1 = v0 +
    * late events concentrated in buckets 0-5 (updates) + users onboarded
    * after v0 inside bucket 2 (inserts) + a GDPR-style erasure of one
    * user class inside bucket 9 (deletes) — buckets 6-8, 10-15 are
    * byte-identical → fingerprint-skipped.
    */
  /** The diff kernel: changed-bucket detection off per-bucket fingerprints,
    * then a bucket-pruned full-outer key diff. Returns (changedBuckets,
    * changelog); exposed for LayoutSpec.
    */
  private[graft] def diffVersions(s: SparkSession, v0Path: String, v1Path: String)
      : (Seq[Int], DataFrame) = {
    // one row per (version, bucket): count + measure sums + an order-free
    // content hash (sum of per-row xxhash64) — equal fingerprints ⇒ equal
    // bucket content (collision odds ~2^-64 per bucket pair)
    def fp(path: String) = s.read.parquet(path)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("rows"),
        sum(col("n_events")).as("sn"), sum(col("cents")).as("sc"),
        // decimal(38,0) sum: order-free and overflow-proof (xxhash64
        // values span the full long range; an ANSI long sum would throw)
        sum(xxhash64(col("user_id"), col("n_events"), col("cents"))
          .cast("decimal(38,0)")).as("h"))
    val changed = fp(v0Path).as("a")
      .join(fp(v1Path).as("b"), Seq("bucket"), "full_outer")
      .filter(col("a.rows").isNull || col("b.rows").isNull ||
        col("a.rows") =!= col("b.rows") || col("a.sn") =!= col("b.sn") ||
        col("a.sc") =!= col("b.sc") || col("a.h") =!= col("b.h"))
      .select(col("bucket")).collect().map(_.getInt(0)).sorted.toSeq // manifest-sized (≤ #partitions)
    def side(path: String, pre: String) = s.read.parquet(path)
      .filter(col("bucket").isin(changed.map(Int.box): _*)) // partition-pruned
      .select(col("user_id"), col("bucket"),
        col("n_events").as(s"${pre}_n"), col("cents").as(s"${pre}_cents"))
    val log = side(v0Path, "pre")
      .join(side(v1Path, "post"), Seq("user_id", "bucket"), "full_outer")
      .filter(col("pre_n").isNull || col("post_n").isNull ||
        col("pre_n") =!= col("post_n") || col("pre_cents") =!= col("post_cents"))
      .select(col("user_id"),
        when(col("pre_n").isNull, "insert")
          .when(col("post_n").isNull, "delete")
          .otherwise("update").as("op"),
        col("pre_n"), col("pre_cents"), col("post_n"), col("post_cents"))
    (changed, log)
  }

  /** Version retention (VACUUM): expire every version directory under
    * `base` except the newest `keep`, by deleting their files. The
    * invariants a production lake's vacuum must hold (LayoutSpec drives
    * each): retained versions read byte-identically before and after
    * (expiry touches only expired directories), re-running deletes
    * nothing (idempotent), and `keep` ≥ 1 is enforced so the current
    * version can never be reclaimed. Returns (versions deleted,
    * files deleted, bytes reclaimed) — manifest-sized driver work: the
    * listing is per-version directory names plus the expired files,
    * never data reads. At 100 TB this is the storage-cost control knob
    * next to q_compaction's file-count knob.
    */
  private[graft] def vacuumVersions(base: String, keep: Int): (Int, Int, Long) = {
    require(keep >= 1, "vacuum must retain at least the current version")
    val dirs = Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .sortBy(_.getName.drop(1).toInt)
    val expired = dirs.dropRight(keep)
    var files = 0
    var bytes = 0L
    expired.foreach { d =>
      def walk(f: java.io.File): Unit = {
        // null-safe like the top-level listing: an unreadable or raced
        // directory must not abort the expiry mid-delete
        if (f.isDirectory) {
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(walk)
        }
        else { files += 1; bytes += f.length() }
        java.nio.file.Files.delete(f.toPath)
      }
      walk(d)
    }
    (expired.length, files, bytes)
  }

  /** Snapshot expiry end-to-end: four growing versions of a rollup
    * table, vacuum retaining the latest two, then serve the CURRENT
    * version — whose content the oracle recomputes independently from
    * the source, so the gate proves expiry never touched live data.
    * The retained-version pre/post byte-identity, idempotency, and the
    * keep ≥ 1 guard are LayoutSpec's ([[vacuumVersions]]).
    */
  def vacuum(s: SparkSession, dir: String): DataFrame = {
    val base = Tmp.stagedOnce("vac", dir) { base =>
      val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      def rollup(df: DataFrame) = df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
      (0 to 3).foreach { k =>
        rollup(ev.filter(col("event_id") % 4 <= k))
          .write.mode("overwrite").parquet(s"$base/v$k")
      }
      val (nv, nf, nb) = vacuumVersions(base, keep = 2)
      require(nv == 2 && nf > 0 && nb > 0, s"expected 2 expired versions, got $nv")
      base
    }
    s.read.parquet(s"$base/v3")
      .select(col("event_type"), col("n_events"), col("cents"))
  }

  def versionDiff(s: SparkSession, dir: String): DataFrame = {
    val base = Tmp.stagedOnce("vdiff", dir) { base =>
      val ev = Tables.events(s, dir).select(col("user_id"),
        (col("user_id") % 16).cast("int").as("bucket"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      def rollup(df: DataFrame) = df.groupBy(col("user_id"), col("bucket"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
      // v0 predates one user class inside bucket 2 (they appear in v1 →
      // inserts), so the changelog exercises all three ops
      rollup(ev.filter(col("event_id") % 7 =!= 0
          && !(col("user_id") % 16 === 2 && col("user_id") % 5 === 0)))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$base/v0")
      rollup(ev.filter(col("event_id") % 7 =!= 0 || col("user_id") % 16 < 6))
        .filter(!(col("user_id") % 16 === 9 && col("user_id") % 6 === 1)) // erasure
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$base/v1")
      base
    }
    diffVersions(s, s"$base/v0", s"$base/v1")._2
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_version_diff" -> versionDiff _,
    "q_vacuum" -> vacuum _,
    "q_stream_wap" -> streamWap _,
    "q_wap_publish" -> wapPublish _,
    "q_compaction" -> compaction _,
    "q_incr_index" -> incrIndex _,
    "q_schema_merge" -> schemaMerge _,
    "q_cow_upsert" -> cowUpsert _,
    "q_bucket_join" -> bucketJoin _,
    "q_partition_prune" -> partitionPrune _,
    "q_zorder" -> zorderLayout _,
    "q_bloom_prune" -> bloomPrune _,
    "q_scd2" -> scd2 _)

  val oracleSql: Map[String, String] = Map(
    // full-table key diff in SQL == the engine's fingerprint-pruned diff
    // (unchanged buckets contribute no changelog rows by definition)
    "q_version_diff" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
        |v0 AS (SELECT user_id, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS c
        |       FROM ev WHERE event_id % 7 <> 0
        |         AND NOT (user_id % 16 = 2 AND user_id % 5 = 0)
        |       GROUP BY user_id),
        |v1 AS (SELECT user_id, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS c
        |       FROM ev
        |       WHERE (event_id % 7 <> 0 OR user_id % 16 < 6)
        |         AND NOT (user_id % 16 = 9 AND user_id % 6 = 1)
        |       GROUP BY user_id)
        |SELECT COALESCE(v0.user_id, v1.user_id) AS user_id,
        |  CASE WHEN v0.user_id IS NULL THEN 'insert'
        |       WHEN v1.user_id IS NULL THEN 'delete'
        |       ELSE 'update' END AS op,
        |  v0.n AS pre_n, v0.c AS pre_cents,
        |  v1.n AS post_n, v1.c AS post_cents
        |FROM v0 FULL OUTER JOIN v1 ON v0.user_id = v1.user_id
        |WHERE v0.user_id IS NULL OR v1.user_id IS NULL
        |   OR v0.n <> v1.n OR v0.c <> v1.c""".stripMargin,

    // exactly-once across 4 micro-batches + a deliberate batch-0
    // redelivery: count/sum/min/max per key all shift on a duplicated
    // or dropped batch, so the hash match proves the fence
    "q_stream_wap" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  MIN(event_id) AS first_event, MAX(event_id) AS last_event
        |FROM events GROUP BY user_id""".stripMargin,

    // the green path: published content == the source rollup (a red
    // audit would leave no readable version at all and fail rows_match)
    "q_wap_publish" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY user_id""".stripMargin,

    "q_compaction" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,

    "q_schema_merge" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(COUNT(CASE WHEN event_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_typed,
        |  CAST(COUNT(DISTINCT CASE WHEN event_id % 2 = 1 THEN event_type END) AS BIGINT) AS n_types
        |FROM events GROUP BY user_id""".stripMargin,

    "q_cow_upsert" ->
      """SELECT user_id, user_id % 16 AS bucket, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY user_id""".stripMargin,

    // the current version (v3 = the full-corpus rollup) recomputed from
    // source — the gate proves vacuum expired ONLY dead versions
    "q_vacuum" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY event_type""".stripMargin,

    "q_bucket_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q_partition_prune" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id""".stripMargin,

    "q_zorder" ->
      s"""WITH d AS (SELECT CAST(l_partkey % 65536 AS BIGINT) AS zx,
         |  CAST(l_suppkey % 65536 AS BIGINT) AS zy FROM lineitem),
         |z AS (SELECT zx, zy, ${zvalSql("zx", "zy")} AS zval FROM d)
         |SELECT CAST(zval >> 16 AS BIGINT) AS zbucket, COUNT(*) AS n,
         |  CAST(MIN(zx) AS BIGINT) AS min_x, CAST(MAX(zx) AS BIGINT) AS max_x,
         |  CAST(MIN(zy) AS BIGINT) AS min_y, CAST(MAX(zy) AS BIGINT) AS max_y
         |FROM z GROUP BY 1""".stripMargin,

    "q_bloom_prune" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |  w[CAST(pos AS INT)] || ' ' || w[CAST(pos AS INT) + 1] || ' ' ||
        |  w[CAST(pos AS INT) + 2] AS gram
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS pos FROM ws)),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0)
        |SELECT doc_id, COUNT(*) AS n_hit_grams
        |FROM g JOIN ev USING (gram)
        |WHERE doc_id % 17 <> 0
        |GROUP BY doc_id""".stripMargin,

    "q_scd2" ->
      """WITH b AS (SELECT user_id, event_id, epoch_ms(ts) AS tms,
        |  CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT *, LAG(value_cents) OVER
        |        (PARTITION BY user_id ORDER BY tms, event_id) AS prev FROM b),
        |f AS (SELECT user_id, event_id, tms, value_cents FROM c
        |      WHERE prev IS NULL OR prev <> value_cents)
        |SELECT user_id, CAST(ROW_NUMBER() OVER w AS BIGINT) AS version, value_cents,
        |  tms AS valid_from, LEAD(tms) OVER w AS valid_to,
        |  LEAD(tms) OVER w IS NULL AS is_current
        |FROM f
        |WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)""".stripMargin)
}
