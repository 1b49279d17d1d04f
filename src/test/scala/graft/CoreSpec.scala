package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{RowKey, Schema}
import graft.changelog.Ddl

class RowKeySpec extends SparkSuite {
  import spark.implicits._

  test("length-prefixed row key matches reference GetRowKey shape") {
    // FIXTURES.md §4: PK (1, 22) -> "1" + "1" + "2" + "22" = "11222"
    val df = Seq((1L, 22L)).toDF("f1", "f2")
      .select(RowKey.rowKey(Seq(col("f1"), col("f2"))))
    assert(df.head().getString(0) == "11222")
  }

  test("row key single column") {
    val df = Seq(Tuple1(12345L)).toDF("f1").select(RowKey.rowKey(Seq(col("f1"))))
    assert(df.head().getString(0) == "512345")
  }

  test("non-ASCII PK values are prefixed with UTF-8 BYTE length (Go len())") {
    // 'é' is 1 char but 2 UTF-8 bytes — reference encoder/encoder.go:108
    val df = Seq(Tuple1("é")).toDF("f1").select(RowKey.rowKey(Seq(col("f1"))))
    assert(df.head().getString(0) == "2é")
  }

  test("partition key is non-negative and stable") {
    val df = Seq(-5L, 0L, 31L, 32L, 33L).toDF("k")
      .select(RowKey.partitionKey(col("k"), 32).as("p"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(27L, 0L, 31L, 0L, 1L))
  }
}

/** The row key as a Catalyst expression: `core.RowKey.rowKey` is composed
  * of builtins only, so it propagates nulls like the reference's GetRowKey
  * and compiles inside whole-stage codegen.
  */
class RowKeyExpressionSpec extends SparkSuite {
  import spark.implicits._

  test("golden value and null propagation") {
    // FIXTURES.md §4 golden; a null PK part nulls the whole key
    val keys = Seq((Some(1L), Some(22L)), (Some(1L), None)).toDF("f1", "f2")
      .select(RowKey.rowKey(Seq(col("f1"), col("f2"))))
      .collect()
    assert(keys(0).getString(0) == "11222")
    assert(keys(1).isNullAt(0))
  }

  test("row key equals the Go GetRowKey formula on the lineitem fixture") {
    val li = graft.core.Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_linenumber"),
        RowKey.rowKey(Seq(col("l_orderkey"), col("l_linenumber"))))
      .collect()
    assert(li.nonEmpty)
    li.foreach { r =>
      val want = Seq(r.get(0), r.get(1)).map(String.valueOf)
        .map(v => s"${v.getBytes("UTF-8").length}$v").mkString
      assert(r.getString(2) == want)
    }
  }

  test("works through whole-stage codegen (plan contains no fallback)") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    val df = spark.range(1000).select(RowKey.rowKey(Seq(col("id"))))
    val plan = df.queryExecution.executedPlan
    val fused = plan.collect { case w: WholeStageCodegenExec => w }
    assert(fused.exists(_.child.find(_.isInstanceOf[ProjectExec]).isDefined), plan)
    val fallbacks = plan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case f: CodegenFallback => f })
    assert(fallbacks.isEmpty, fallbacks)
    val rows = df.collect()
    assert(rows(7).getString(0) == "17")
    assert(rows(123).getString(0) == "3123")
  }
}

class SchemaSpec extends SparkSuite {
  import Schema._

  // FIXTURES.md §2: the all-data-types table t2
  private val t2 = TableSchema("db1", "t2", Seq(
    ColumnSchema("f1", 1, isNullable = false, "bigint", key = "PRI"),
    ColumnSchema("f2", 2, isNullable = true, "char"),
    ColumnSchema("f4", 4, isNullable = true, "text"),
    ColumnSchema("f5", 5, isNullable = true, "timestamp"),
    ColumnSchema("f8", 8, isNullable = true, "year"),
    ColumnSchema("f10", 10, isNullable = true, "binary"),
    ColumnSchema("f12", 12, isNullable = true, "float"),
    ColumnSchema("f14", 14, isNullable = true, "decimal", numericPrecision = 10, numericScale = 0),
    ColumnSchema("f16", 16, isNullable = true, "datetime"),
    ColumnSchema("f17", 17, isNullable = true, "tinyint", columnType = "tinyint(1)"),
    ColumnSchema("f18", 18, isNullable = true, "json")))

  test("t2 maps to the documented Spark types") {
    val st = toStructType(t2)
    def dt(n: String) = st(n).dataType
    assert(dt("f1") == LongType)
    assert(dt("f2") == StringType)
    assert(dt("f5") == TimestampType)
    assert(dt("f8") == IntegerType)
    assert(dt("f10") == BinaryType)
    assert(dt("f12") == FloatType)
    assert(dt("f14") == DecimalType(10, 0)) // exact internally; double at the encoder edge
    assert(st("f14").metadata.getString("improvedType") == "decimal(10,0)")
    assert(dt("f16") == TimestampNTZType)
    assert(dt("f17") == BooleanType) // tinyint(1)
    assert(dt("f18") == StringType)
  }

  test("default carries decimal(p,s) exactly; lossy mode recovers the reference scan type") {
    val money = TableSchema("db1", "m", Seq(
      ColumnSchema("id", 1, isNullable = false, "bigint", key = "PRI"),
      ColumnSchema("amount", 2, isNullable = true, "decimal",
        numericPrecision = 12, numericScale = 2)))
    // lossy mode: the reference's float64 scan type end-to-end
    assert(toStructType(money, exactDecimals = false)("amount").dataType == DoubleType)
    // default: exact DecimalType internally, and the sink DDL keeps precision
    val exact = toStructType(money)
    assert(exact("amount").dataType == DecimalType(12, 2))
    assert(sqlType(exact("amount").dataType) == "DECIMAL(12,2)")
    // exact decimal arithmetic does not drift: classic 0.1+0.2 case
    val df = spark.sql("SELECT CAST(0.1 AS DECIMAL(12,2)) + CAST(0.2 AS DECIMAL(12,2)) AS s")
    assert(df.head().getDecimal(0).compareTo(new java.math.BigDecimal("0.30")) == 0)
  }

  test("PK columns recoverable from metadata; PK-less tables detected") {
    assert(pkColumns(toStructType(t2)) == Seq("f1"))
    assert(t2.hasPrimaryKey)
    assert(!TableSchema("d", "t", Seq(ColumnSchema("x", 1, true, "int"))).hasPrimaryKey)
  }
}

class DdlSpec extends SparkSuite {
  import Ddl._

  test("ALTER TABLE forms classify with db/table extraction") {
    assert(classify("ALTER TABLE db1.t1 ADD f2 varchar(32)") == AlterTable(Some("db1"), "t1", "ADD f2 varchar(32)"))
    assert(classify("alter table `db1`.`t1` drop column f2") == AlterTable(Some("db1"), "t1", "drop column f2"))
    assert(classify("ALTER TABLE t1 ADD COLUMN c INT") == AlterTable(None, "t1", "ADD COLUMN c INT"))
    assert(classify("ALTER IGNORE TABLE `t1` ENGINE=InnoDB") == AlterTable(None, "t1", "ENGINE=InnoDB"))
  }

  test("RENAME TABLE forms") {
    assert(classify("RENAME TABLE t1 TO t2") == RenameTable(None, "t1", "t2"))
    assert(classify("rename table `db1`.`t1` to `db1`.`t2`") == RenameTable(Some("db1"), "t1", "t2"))
  }

  test("non-DDL statements are ignored or rejected") {
    assert(classify("BEGIN") == Ignored)
    assert(classify("COMMIT") == Ignored)
    assert(classify("FLUSH LOGS") == Ignored)
    assert(classify("INSERT INTO t1 VALUES (1)") == NotDdl)
    assert(classify("SELECT * FROM t1") == NotDdl)
    assert(!isDdl("ALTERNATIVE TABLE t1")) // prefix confusion guard
  }
}

/** Pins the cliff-3 fix (SCALE.md, r15): the pre-fan-out width must take
  * the session's configured shuffle width as a floor — a width pinned to
  * the core count alone disconnects spark.sql.shuffle.partitions from
  * every fan-out-downstream stage and starves memory at 1000×.
  */
class SpreadSpec extends SparkSuite {
  import spark.implicits._

  test("byKey width follows the session shuffle width when it exceeds cores") {
    val df = (1 to 100).map(i => (i.toLong, s"t$i")).toDF("id", "t")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      assert(graft.core.Spread.byKey(df, col("id")).rdd.getNumPartitions == 64)
      // small-fixture configs (width == cores) keep the historical plan
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      assert(graft.core.Spread.byKey(df, col("id")).rdd.getNumPartitions ==
        math.max(spark.sparkContext.defaultParallelism, prev.toInt))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("byKey leaves a file scan of at least width splits alone; a single file still spreads") {
    val width = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    val dir = java.nio.file.Files.createTempDirectory("graft-spread")
    try {
      val rows = (1 to 400).map(i => (i.toLong, s"t$i")).toDF("id", "t")
      rows.repartition(width).write.parquet(s"$dir/wide")
      rows.coalesce(1).write.parquet(s"$dir/one")
      val wide = spark.read.parquet(s"$dir/wide")
      assert(wide.rdd.getNumPartitions >= width, "fixture: one split per file")
      assert(graft.core.Spread.byKey(wide, col("id")) eq wide)
      // the scan's splits survive a broadcast join's streamed side
      val joined = wide.join(broadcast(rows.select(col("id"))), "id")
      assert(graft.core.Spread.byKey(joined, col("id")) eq joined)
      val one = spark.read.parquet(s"$dir/one")
      assert(graft.core.Spread.byKey(one, col("id")).rdd.getNumPartitions == width)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
