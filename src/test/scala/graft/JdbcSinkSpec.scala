package graft

import java.util.Properties

import graft.etl.JdbcSink

/** JDBC append sink (reference A18) against embedded Derby — same
  * `DataFrameWriter.jdbc` path a MySQL target would use. */
class JdbcSinkSpec extends SparkSpec {
  import spark.implicits._

  val url = "jdbc:derby:memory:graftdb;create=true"
  val props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  test("append writes rows, auto-creates table, and appends on second call") {
    val df = Seq((1L, "a", 10.5), (2L, "b", 20.25), (3L, "c", 0.0))
      .toDF("id", "name", "score")
    assert(JdbcSink.append(df, url, "sink_t1", props) == 3L)
    assert(spark.read.jdbc(url, "sink_t1", props).count() == 3L)
    assert(JdbcSink.append(df, url, "sink_t1", props) == 3L)
    assert(spark.read.jdbc(url, "sink_t1", props).count() == 6L)
  }

  test("sink failures are logged and swallowed, not thrown (reference :157-158)") {
    val df = Seq((1L, "a")).toDF("id", "name")
    val bad = new Properties()
    bad.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    assert(JdbcSink.append(df, "jdbc:derby:/nonexistent/path/db", "t", bad) == 0L)
  }

  test("empty frame is skipped with a warning (reference :153,159-160)") {
    val empty = Seq.empty[(Long, String)].toDF("id", "name")
    assert(JdbcSink.append(empty, url, "sink_t2", props) == 0L)
    // table must NOT have been created
    val ex = intercept[Exception](spark.read.jdbc(url, "sink_t2", props).collect())
    assert(ex != null)
  }

  test("upstream pipeline evaluates exactly once (empty probe shares the write's cache)") {
    // The empty-guard probe must not re-run the upstream pipeline: the
    // coalesced frame is persist()-marked, the probe unrolls partition 0
    // into the cache, and the write job reuses it. An accumulator bumped
    // per upstream row therefore ends at EXACTLY the row count — the old
    // LIMIT-1 pre-job would push it past that by re-evaluating rows the
    // write then computed again.
    val acc = spark.sparkContext.longAccumulator("upstream_row_evals")
    val base = spark.range(0, 1000, 1, 4).as[Long]
      .map { x => acc.add(1); (x, "n" + x) }
      .toDF("id", "name")
    assert(JdbcSink.append(base, url, "sink_t3", props) == 1000L)
    assert(spark.read.jdbc(url, "sink_t3", props).count() == 1000L)
    assert(acc.value == 1000L,
      s"upstream evaluated ${acc.value} row-computations for 1000 rows")
  }

  test("write appends a non-empty frame and returns the rows written") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "name")
    assert(JdbcSink.write(df, url, "sink_t4", props) == 4L)
    assert(spark.read.jdbc(url, "sink_t4", props).orderBy("id").as[(Long, String)].collect()
      .toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("write failures are logged and swallowed, not thrown") {
    val df = Seq((1L, "a")).toDF("id", "name")
    val bad = new Properties()
    bad.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    assert(JdbcSink.write(df, "jdbc:derby:/nonexistent/path/db", "t", bad) == 0L)
  }
}
