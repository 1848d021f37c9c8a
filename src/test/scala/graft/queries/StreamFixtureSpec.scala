package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{Pins, SparkEntry, TestSpark}

/** The streaming gate queries' one harness: a build leaves no memory sink
  * or running query behind, and the progress reader's state-row count
  * refuses a query that read rows but reported no state operator. */
class StreamFixtureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A documents table, all that `llm_stream_neardup` reads: 40 docs in
    * 10 groups of near-copies. */
  private lazy val corpus: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream-fixture").toString
    (1L to 40L).map(i => (i, s"the quick brown fox number ${i % 10} jumps " +
        s"over the lazy dog in pen ${i % 10} and then runs far away home"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("building a memory-sink fixture leaves no temp view and no active stream") {
    Seq("ts_stream_late", "ts_stream_join", "llm_stream_neardup").foreach { name =>
      val before = tempViews
      val rows = Pins.scoped(SparkEntry.queries(name)(spark, corpus).collect())
      assert(rows.nonEmpty, name)
      assert(tempViews == before, s"$name left a sink behind")
      assert(spark.streams.active.isEmpty, s"$name left a query running")
    }
  }

  test("the state-row count fails on a fed stateless query, " +
      "and reads 0 on a query fed nothing") {
    import spark.implicits._
    val before = tempViews
    val fed = StreamFixture.source[Long](spark)
    val e = intercept[IllegalArgumentException] {
      StreamFixture.collect(spark, "stateless", fed.toDF().select(($"value" * 2).as("v"))) { q =>
        StreamFixture.feed(q, fed, Seq(1L to 10L))
        assert(StreamFixture.progress(q).inputRows == 10)
        StreamFixture.progress(q).maxStateRows
      }
    }
    assert(e.getMessage.contains("state-leak guard is blind"), e.getMessage)

    val idle = StreamFixture.source[Long](spark)
    val out = StreamFixture.collect(spark, "unfed", idle.toDF()) { q =>
      StreamFixture.feed(q, idle, Seq(Nil))
      assert(StreamFixture.progress(q).maxStateRows == 0L)
    }
    assert(out.count() == 0)
    assert(tempViews == before, "a sink outlived its fixture")
    assert(spark.streams.active.isEmpty)
  }
}
