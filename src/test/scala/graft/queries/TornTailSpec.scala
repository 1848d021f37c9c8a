package graft.queries

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.{EtsdCmd, TestSpark}
import graft.codec.{BlockBuffer, EtsdDecoder}

/** A power-loss torn tail — a partial block after a file's last whole
  * block — is ignored the same way by every `.tsd` reader: the DSv2 long
  * scan, the driver-local fold, the per-block table and `examine` all
  * answer exactly as for the file cut to whole blocks. Only the codec's
  * whole-file decode rejects the file. */
class TornTailSpec extends AnyFunSuite {
  import LocalQueryStores._

  private lazy val spark = TestSpark.spark
  private lazy val store = exportStore(spark, mixedSchema, mixedRows, blocksPerFile = 8)
  private val span = mixedSchema.intervalSec.toLong * mixedSchema.blockIntervals
  private val tEnd = mixedT0 + 10L * mixedIntervals

  /** A copy of the store whose `nth` file holds `edit` of its bytes, with
    * its checksum file gone and its modification time bumped, so its
    * sidecar entry is stale and every planner re-reads its length. */
  private def edited(nth: Int)(edit: Array[Byte] => Array[Byte]): String = {
    val d = copyStore(store)
    val f = tsdFiles(d)(nth)
    Files.write(f, edit(Files.readAllBytes(f)))
    Files.delete(f.resolveSibling(s".${f.getFileName}.crc"))
    assert(f.toFile.setLastModified(f.toFile.lastModified() + 60000L))
    d
  }

  /** The first 100 bytes of the block that would follow the last one: the
    * last block's head re-stamped one block span later. */
  private def fragment(file: Array[Byte]): Array[Byte] = {
    val head = file.slice(file.length - BlockBuffer.BlockSize,
      file.length - BlockBuffer.BlockSize + 100)
    val le = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
    le.putInt(0, ((le.getInt(0) & 0xFFFFFFFFL) + span).toInt)
    head
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a partial trailing block is ignored by every reader; decodeFile rejects it") {
    val torn = edited(2)(b => b ++ fragment(b))
    val cut = edited(2)(identity)
    val tornFile = tsdFiles(torn)(2)
    assert(Files.size(tornFile) % BlockBuffer.BlockSize == 100)

    // DSv2 long scan
    assert(rows(load(spark, torn)) == rows(load(spark, cut)))
    // per-block table
    def blocks(dir: String) = rows(spark.read.format("graft.sources.TsdDataSource")
      .option("xdata", "true").load(dir)
      .selectExpr("block_epoch", "sector", "valid_intervals", "length(xdata)"))
    assert(blocks(torn) == blocks(cut))
    assert(blocks(torn).nonEmpty)

    // driver-local fold over a window that holds the fragment's stamp
    val (lo, hi) = (mixedT0 - 3600L, tEnd + 3600L)
    val now = Instant.ofEpochSecond(tEnd + 7200L)
    val args = Seq("q=tot", s"s=${iso(lo)}", s"e=${iso(hi)}")
    val local = EtsdQueryApi.query(load(spark, torn), mixedSchema, args, now)
    assert(local.queryExecution.analyzed.isInstanceOf[LocalRelation],
      "the torn store must be answered on the driver")
    val want = oracle(cut, "tot", None, lo, hi)
    assert(answer(local) == want)
    assert(answer(EtsdQueryApi.queryDistributed(load(spark, torn),
      mixedSchema, args, now)) == want)

    // examine counts whole blocks only
    assert(EtsdCmd.examine(torn) == EtsdCmd.examine(cut))

    // the codec's whole-file oracle refuses the torn file
    intercept[IllegalArgumentException](
      EtsdDecoder.decodeFile(Files.readAllBytes(tornFile)))
  }
}
