package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft._
import graft.TestSpark
import graft.model.{ChannelConfig, EtsdSchema, StreamType}

/** Export → read-back round trip through real .tsd files, including
  * multi-file splitting, invalid-slot encoding, and idempotent rewrite. */
class EtsdSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = EtsdSchema(Seq(
    ChannelConfig("Odo", StreamType.FullS, counter = true, register = true),
    ChannelConfig("Temp", StreamType.HalfS, signed = true)), intervalSec = 10,
    blockIntervals = 6)
  // aligned to the 120 s file span (2 blocks × 6 intervals × 10 s), so the
  // 30 intervals land in exactly three span-aligned files
  private val t0 = 1700000040L

  private def load(dir: String) =
    spark.read.format("graft.sources.TsdDataSource").load(dir)

  private def longFrame(n: Int) = {
    import spark.implicits._
    (0 until n).flatMap { k =>
      val te = t0 + k * 10L
      Seq((te, "Odo", Some(1000L + 7L * k), true),
        (te, "Temp", if (k == 5) None else Some(if (k % 2 == 0) -4L else 25L),
          k != 5)) // slot 5: invalid gauge reading
    }.toDF("te", "channel", "value", "valid")
      .select(org.apache.spark.sql.functions.timestamp_seconds($"te").as("ts"),
        $"channel", $"value", $"valid")
  }

  test("export splits files, encodes invalids, and reads back exactly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sink").toString
    // 30 intervals, 6/block, 2 blocks/file -> files of 12 intervals: 3 files
    val written = EtsdSink.exportIndexed(longFrame(30), schema, dir,
      blocksPerFile = 2).sortBy(_.name)
    assert(written.length == 3)
    assert(written.map(_.nBlocks).toSeq == Seq(2L, 2L, 1L)) // last file short (6 iv)
    // written-file metadata matches the bytes on disk (feeds the sidecar)
    assert(written.map(_.firstTs).toSeq ==
      Seq(t0, t0 + 120L, t0 + 240L))
    assert(written.forall(_.blockSpanSec == 60L))

    val back = load(dir).filter(!$"is_register").cache()
    // gauge round-trips with signed values; the invalid slot is null
    val temp = back.filter($"channel" === "Temp").orderBy("ts").collect()
    assert(temp.length == 30)
    assert(temp(5).isNullAt(2) && !temp(5).getBoolean(3))
    assert((0 until 30).filter(_ != 5).forall(k =>
      temp(k).getLong(2) == (if (k % 2 == 0) -4L else 25L)))
    // counter: per-file decoder state -> first sample of each FILE is the
    // baseline (null), all others carry the constant delta 7
    val odo = back.filter($"channel" === "Odo").orderBy("ts").collect()
    assert(odo.length == 30)
    val nullIdx = odo.zipWithIndex.collect { case (r, i) if r.isNullAt(2) => i }
    assert(nullIdx.toSeq == Seq(0, 12, 24)) // one baseline per file
    assert(odo.zipWithIndex.filterNot(p => nullIdx.contains(p._2))
      .forall(_._1.getLong(2) == 7L))

    // registers re-anchor from block 2 of each file
    val regRows = load(dir).filter($"is_register").collect()
    assert(regRows.length == 5) // 2+2+1 blocks, one register slot each

    // idempotent rewrite: byte-identical second export
    val before = written.map(w => java.nio.file.Paths.get(dir, w.name))
      .map(Files.readAllBytes)
    EtsdSink.exportIndexed(longFrame(30), schema, dir, blocksPerFile = 2)
    val after = written.map(w => java.nio.file.Paths.get(dir, w.name))
      .map(Files.readAllBytes)
    assert(before.zip(after).forall(p => p._1.sameElements(p._2)))

    // the CLI opens the exported files
    assert(EtsdCmd.loadSchema(dir) == schema)
  }

  test("xData round-trips through the DSv2 xdata reader") {
    import spark.implicits._
    val dir = Files.createTempDirectory("xdata").toString
    val xschema = schema.copy(xDataSize = 4)
    // block starts: t0 + 60k for 5 blocks (6 intervals x 10 s each);
    // encode the block index into the opaque region. One block (the 4th)
    // deliberately gets no side row -> reads back as zeros (the cleared
    // region the reference's saveXData leaves untouched never holds data,
    // but OUR blocks clear to 0xFF... -> assert actual bytes)
    val blockEpochs = (0 until 5).map(t0 + 60L * _)
    val side = blockEpochs.zipWithIndex.filter(_._2 != 3)
      .map { case (be, i) => (be, Array[Byte](1, 2, 3, i.toByte)) }
      .toDF("block_epoch", "xdata")
    EtsdSink.exportIndexed(longFrame(30), xschema, dir, blocksPerFile = 2,
      xData = Some(side))

    val dsv2 = spark.read.format("graft.sources.TsdDataSource")
      .option("xdata", "true").load(dir)
    // one row per block, the 4th present with its cleared region
    val all = dsv2.select($"block_epoch", $"xdata").as[(Long, Array[Byte])]
      .collect().sortBy(_._1)
    assert(all.map(_._1).toSeq == blockEpochs)
    all.zipWithIndex.foreach { case ((_, bytes), i) =>
      if (i == 3) assert(bytes.length == 4) // present, content = cleared block
      else assert(bytes.toSeq == Seq[Byte](1, 2, 3, i.toByte))
    }

    // block_epoch pushdown reaches the scan and prunes the first block
    val filtered = dsv2.filter($"block_epoch" >= t0 + 60L)
    val scanDesc = filtered.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }.mkString
    assert(scanDesc.contains(s"tsRange=[${t0 + 60L}, +inf]"), scanDesc)
    val got2 = filtered.select($"block_epoch", $"xdata").as[(Long, Array[Byte])]
      .collect().sortBy(_._1)
    assert(got2.map(_._1).toSeq == blockEpochs.drop(1))
    assert(got2.head._2.toSeq == Seq[Byte](1, 2, 3, 1))

    // a schema without an xData region: one row per block, every xdata
    // empty (the per-block table serves every schema)
    val plainDir = Files.createTempDirectory("noxdata").toString
    EtsdSink.exportIndexed(longFrame(6), schema, plainDir)
    val plain = spark.read.format("graft.sources.TsdDataSource")
      .option("xdata", "true").load(plainDir)
      .select($"block_epoch", $"xdata").as[(Long, Array[Byte])].collect()
    assert(plain.map(_._1).toSeq == Seq(t0))
    assert(plain.forall(_._2.isEmpty))
  }

  test("duplicate xData side rows resolve to the lexicographically smallest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("xdup").toString
    val xschema = schema.copy(xDataSize = 2)
    // an at-least-once upstream retries a side row: the pick must be
    // deterministic or re-exports stop being byte-identical
    val side = Seq((t0, Array[Byte](9, 9)), (t0, Array[Byte](1, 2)),
      (t0, Array[Byte](5, 5))).toDF("block_epoch", "xdata")
    EtsdSink.exportIndexed(longFrame(6), xschema, dir, blocksPerFile = 1,
      xData = Some(side))
    val got = spark.read.format("graft.sources.TsdDataSource")
      .option("xdata", "true").load(dir)
      .select($"xdata").as[Array[Byte]].collect()
    assert(got.head.toSeq == Seq[Byte](1, 2))
  }

  test("a row whose channel is not in the schema fails the export") {
    import spark.implicits._
    val stray = Seq((t0 + 10L, "Volts", Some(230L), true))
      .toDF("te", "channel", "value", "valid")
      .select(org.apache.spark.sql.functions.timestamp_seconds($"te").as("ts"),
        $"channel", $"value", $"valid")
    val rows = longFrame(6).unionByName(stray)
    def rejected(export: => Any): Unit = {
      val e = intercept[Exception](export)
      val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case i: IllegalArgumentException => i }
      assert(iae.exists(i => i.getMessage.contains("'Volts'") &&
        i.getMessage.contains("Odo, Temp")), e.toString)
    }
    val dir = Files.createTempDirectory("badchan").toString
    rejected(EtsdSink.exportIndexed(rows, schema, dir))
    // the one span holds the stray row: no file written, no sidecar
    assert(new java.io.File(dir).list().isEmpty)
    val root = Files.createTempDirectory("badchanfleet").toString
    rejected(EtsdSink.exportFleet(
      rows.withColumn("store_id", org.apache.spark.sql.functions.lit("st0")),
      schema, root))
  }

  test("the sink's sidecar equals a from-scratch TsdIndex.write, entry for entry") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val conf = spark.sessionState.newHadoopConf()
    // the returned rows, the sidecar left behind, and a re-probe of the
    // directory must agree on every field: name, fileLen, nBlocks,
    // firstTs, lastTs, blockSpanSec and modTime
    def assertParity(dir: String, returned: Seq[TsdIndexEntry]): Unit = {
      val root = new org.apache.hadoop.fs.Path(dir)
      val left = TsdIndex.load(root.getFileSystem(conf), root)
        .getOrElse(fail(s"no sidecar in $dir"))
      assert(returned.nonEmpty)
      assert(returned.sortBy(_.name) == left.values.toSeq.sortBy(_.name))
      val probed = TsdIndex.write(spark, dir)
      assert(probed.map(_.name).sorted == left.keys.toSeq.sorted)
      probed.foreach(p => assert(left(p.name) == p, p.name))
    }

    // one store with an xData frame, exported twice: the rewrite must
    // refresh every entry (new modTime), not leave the first export's
    val dir = Files.createTempDirectory("parity").toString
    val xschema = schema.copy(xDataSize = 4)
    val side = (0 until 5).map(i => (t0 + 60L * i, Array[Byte](7, 7, 7, i.toByte)))
      .toDF("block_epoch", "xdata")
    EtsdSink.exportIndexed(longFrame(30), xschema, dir, blocksPerFile = 2,
      xData = Some(side))
    val again = EtsdSink.exportIndexed(longFrame(30), xschema, dir,
      blocksPerFile = 2, xData = Some(side))
    assert(again.size == 3)
    assertParity(dir, again)

    // every store of a 3-store fleet, each with its own file count
    val root = Files.createTempDirectory("parityfleet").toString
    val rows = (0 until 3).map(i =>
        longFrame(30 - 12 * i).withColumn("store_id", lit(s"st$i")))
      .reduce(_ unionByName _)
    val written = EtsdSink.exportFleet(rows, schema, root, blocksPerFile = 2)
    assert(written.groupBy(_._1).map { case (st, ws) => st -> ws.size } ==
      Map("st0" -> 3, "st1" -> 2, "st2" -> 1))
    written.groupBy(_._1).foreach { case (st, ws) =>
      assertParity(s"$root/$st", ws.map(_._2))
    }
  }

  test("Retention drops span files below the cutoff (etsdRotate analog)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ret").toString
    EtsdSink.exportIndexed(longFrame(30), schema, dir, blocksPerFile = 2)
    // cutoff at the second span's start: only the first file goes
    val dropped = Retention.dropBlocksBefore(spark, dir, t0 + 120)
    assert(dropped.length == 1 && dropped.head.contains("etsd-001700000040"))
    val left = load(dir)
      .filter(!$"is_register").count()
    assert(left == 36) // (30 - 12 dropped intervals) x 2 channels
    assert(Retention.dropBlocksBefore(spark, dir, 0L).isEmpty) // no-op
  }
}
