package graft

import graft.core.SessionConf

/** Scoped session conf: after `withConf` every key is back in the state
  * it had before the call — old value if set, unset if unset — also when
  * the body throws.
  */
class SessionConfSpec extends SparkSuite {

  private val unsetKey = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val setKey = "spark.sql.shuffle.partitions"

  private def check(body: => Unit): Unit = {
    assert(!spark.sessionState.conf.contains(unsetKey), s"$unsetKey must start unset")
    val before = spark.conf.get(setKey)
    body
    assert(!spark.sessionState.conf.contains(unsetKey), s"$unsetKey was left set")
    assert(spark.conf.get(setKey) === before)
  }

  test("an unset key stays unset and a set key gets its old value back") {
    check {
      val seen = SessionConf.withConf(spark, unsetKey -> "false", setKey -> "7") {
        (spark.conf.get(unsetKey), spark.conf.get(setKey))
      }
      assert(seen === (("false", "7")))
    }
  }

  test("both keys are restored when the body throws") {
    check {
      val e = intercept[IllegalStateException] {
        SessionConf.withConf(spark, unsetKey -> "false", setKey -> "7") {
          assert(spark.conf.get(setKey) === "7")
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage === "boom")
    }
  }

  test("nested scopes on one key unwind in order") {
    check {
      SessionConf.withConf(spark, setKey -> "7") {
        SessionConf.withConf(spark, setKey -> "9") {
          assert(spark.conf.get(setKey) === "9")
        }
        assert(spark.conf.get(setKey) === "7")
      }
    }
  }
}
