package graft.queries

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}

/** The test harness every streaming gate query runs on: a bounded
  * driver-side [[MemoryStream]] feed (standing in for a real source —
  * production feeds arrive from Kafka/files and never touch the driver)
  * into the operator under test, stopped on every path, with one reader
  * of what the query reported. One implementation, so the sink naming,
  * Append mode, stop-in-`finally` and sink cleanup (and any future fix to
  * them) live in one place for all 22 fixtures. */
private[graft] object StreamFixture {

  /** A fresh memory stream in `s` for a fixture to feed. */
  def source[T: Encoder](s: SparkSession): MemoryStream[T] =
    MemoryStream[T](implicitly[Encoder[T]], s)

  /** One micro-batch per element of `batches`: add it to `mem`, then wait
    * until `q` has processed it. An empty element adds nothing and only
    * drains what is already queued (a query restarted over data that
    * arrived while it was down). */
  def feed[T](q: StreamingQuery, mem: MemoryStream[T], batches: Seq[Seq[T]]): Unit =
    batches.foreach { b =>
      if (b.nonEmpty) mem.addData(b: _*)
      q.processAllAvailable()
    }

  /** [[feed]], then stop `q` — on every path, a throwing feed included.
    * The step of the fixtures that commit through a file sink. */
  def feedThenStop[T](q: StreamingQuery, mem: MemoryStream[T],
                      batches: Seq[Seq[T]]): Unit =
    try feed(q, mem, batches) finally q.stop()

  /** The rows `stream` emits while `run` feeds it: `stream` (already
    * built, over as many memory streams as it reads) writes to a uniquely
    * named Append memory sink; `run` feeds it and checks what it must
    * (a state bound, a planted drop count). The query is stopped, the
    * fixture-sized result copied into a local frame, and the sink's temp
    * view dropped on every path, a throwing `run` included: a sink left
    * behind keeps its rows in driver memory for the session's lifetime,
    * one full result set per build of a battery re-run in one session
    * (Bench, `DeterminismSpec`). */
  def collect(s: SparkSession, prefix: String, stream: DataFrame)(
      run: StreamingQuery => Unit): DataFrame = {
    val sink = s"${prefix}_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val q = stream.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append).start()
    try {
      try run(q) finally q.stop()
      val out = s.table(sink)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally s.catalog.dropTempView(sink)
  }

  /** What `q` reported over its micro-batches so far. */
  def progress(q: StreamingQuery): Progress = Progress(q.recentProgress.toSeq)

  /** A fixture query's progress reports, read one way for every fixture. */
  final case class Progress(batches: Seq[StreamingQueryProgress]) {
    private def states = batches.flatMap(_.stateOperators.toSeq)

    /** Rows the query read from its sources. */
    def inputRows: Long = batches.map(_.numInputRows).sum

    /** The most rows any state operator held after a micro-batch; 0 for
      * a query fed nothing. Fails when the query read rows but reported
      * no state-operator metrics: a state bound checked against that
      * reading would hold while asserting nothing (a Spark upgrade that
      * stops populating them, or an operator that keeps no state). */
    def maxStateRows: Long = {
      require(inputRows == 0 || states.nonEmpty,
        s"stateOperators metrics are empty after $inputRows input rows - " +
          "the state-leak guard is blind")
      states.map(_.numRowsTotal).maxOption.getOrElse(0L)
    }

    /** Rows the state operators dropped as later than the watermark. */
    def droppedByWatermark: Long = states.map(_.numRowsDroppedByWatermark).sum

    /** Rows written to the state of operators whose name contains `op`. */
    def rowsUpdated(op: String): Long =
      states.filter(_.operatorName.contains(op)).map(_.numRowsUpdated).sum

    /** Rows the sink reported written (sinks that report none count 0). */
    def sinkRows: Long = batches.map(_.sink.numOutputRows).filter(_ >= 0).sum
  }
}
