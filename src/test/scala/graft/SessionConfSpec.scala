package graft

import graft.core.SessionConf

/** Restore contract of the scoped session-conf helper: every key leaves
  * the scope in the state it entered it, unset included.
  */
class SessionConfSpec extends SparkSuite {

  private def explicit(k: String): Option[String] = spark.conf.getAll.get(k)

  test("an unset key is unset again after the scope") {
    // registered key: getOption answers its default, so only getAll shows
    // whether the session holds an explicit value
    val registered = "spark.sql.streaming.noDataMicroBatches.enabled"
    val custom = "graft.test.sessionConf.unset"
    assert(explicit(registered).isEmpty && explicit(custom).isEmpty)
    SessionConf.scoped(spark, registered -> "false", custom -> "x") {
      assert(spark.conf.get(registered) == "false")
      assert(spark.conf.get(custom) == "x")
    }
    assert(explicit(registered).isEmpty)
    assert(explicit(custom).isEmpty)
    assert(spark.conf.getOption(custom).isEmpty)
  }

  test("a set key gets its old value back") {
    val k = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(k)
    assert(explicit(k).contains(before))
    val r = SessionConf.scoped(spark, k -> "3") {
      assert(spark.conf.get(k) == "3")
      42
    }
    assert(r == 42)
    assert(explicit(k).contains(before))
  }

  test("restore happens when the body throws") {
    val k = "graft.test.sessionConf.throw"
    spark.conf.set(k, "old")
    try {
      intercept[IllegalStateException] {
        SessionConf.scoped(spark, k -> "new") {
          assert(spark.conf.get(k) == "new")
          throw new IllegalStateException("boom")
        }
      }
      assert(spark.conf.get(k) == "old")
    } finally spark.conf.unset(k)
  }

  test("nested scopes on the same key unwind in order") {
    val k = "graft.test.sessionConf.nested"
    SessionConf.scoped(spark, k -> "outer") {
      SessionConf.scoped(spark, k -> "inner") {
        assert(spark.conf.get(k) == "inner")
      }
      assert(spark.conf.get(k) == "outer")
    }
    assert(explicit(k).isEmpty)
  }
}
