package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic cross-engine hashing for the LLM-data-pipeline operators.
  *
  * Both the Spark implementation and the DuckDB oracle derive every hash
  * from `md5` (identical bytes in any engine) and then do only exact
  * 64-bit integer arithmetic, so results are bit-reproducible across
  * engines, partitionings, and re-runs — a requirement for deduplication
  * at 100 TB, where a hash that depends on engine internals (e.g.
  * Spark's `hash()` vs DuckDB's `hash()`) would make incremental runs
  * irreproducible.
  *
  * The 60-bit prefix keeps the value positive in a signed 64-bit long on
  * both engines. MinHash constants are fixed literals shared by both
  * sides (generated once, seed 7).
  */
object DetHash {

  /** 61-bit modulus used to fold the 60-bit hash into 31-bit space for
    * overflow-free affine MinHash permutations. */
  val M31 = 1000000007L
  /** Polynomial-combine multiplier for hash-of-hashes keys (n-gram
    * bucket composition); paired with a fold mod [[M31]] per step so the
    * running value stays below 2⁶³ on both engines. */
  val CombineC = 1000003L
  /** Mersenne prime 2^31-1 — the MinHash permutation modulus. */
  val P31 = 2147483647L

  /** MinHash permutation coefficients: h_i = (A(i)*h + B(i)) mod P31 with
    * h < M31, so A*h < 2^61 never overflows a signed long. 16 permutations
    * = 4 bands x 4 rows (standard LSH banding). */
  val MinHashA: Seq[Long] = Seq(695425565L, 2035525363L, 323946141L,
    847877001L, 1397871145L, 103694313L, 155555739L, 1763673107L,
    1150797847L, 202142729L, 785310973L, 1251527727L, 124551739L,
    1953574603L, 1089709947L, 461060839L)
  val MinHashB: Seq[Long] = Seq(80521324L, 184570285L, 931247021L,
    898017869L, 150013383L, 516819858L, 194804716L, 1183364967L,
    911648019L, 126938843L, 1775651415L, 1214302567L, 265862673L,
    2034632750L, 479402028L, 1354258844L)
  val NumHashes: Int = MinHashA.size
  val NumBands = 4
  val RowsPerBand: Int = NumHashes / NumBands

  /** Random-hyperplane signs for LSH bucketing of embeddings: `planes`
    * rows of `dim` entries in {-1,+1}, derived from an LCG bit so the
    * matrix is a pure literal on both engines. */
  def lshSigns(planes: Int, dim: Int): Seq[Seq[Int]] =
    (0 until planes).map { p =>
      (0 until dim).map { j =>
        val k = p.toLong * dim + j
        if (((1103515245L * k + 12345L) >> 16 & 1L) == 1L) 1 else -1
      }
    }

  // ---- Spark side ----

  /** 60-bit positive hash of a string column (first 15 hex chars of md5),
    * computed by the native codegen'd [[Md5Long60]] expression — same
    * values as the hex-string SQL chain, none of its allocations. */
  def h60(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(Md5Long60(ColumnBridge.expression(c)))
  }

  /** h60 folded below M31 for overflow-free MinHash permutation. */
  def h31(c: Column): Column = h60(c) % M31

  /** JVM-side scalar twin of [[h60]] (tests / driver-side spot checks). */
  def h60Value(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8)
        .map("%02x".format(_)).mkString.take(15), 16)

  // ---- DuckDB oracle side (SQL fragments built from the same literals) ----

  def h60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  def h31Sql(e: String): String = s"${h60Sql(e)} % $M31"

  /** i-th MinHash permutation of the h31 expression `h`: the oracle's
    * SQL and the Spark operators' `transform` lambdas alike. */
  def permSql(i: Int, h: String): String =
    s"(($h) * ${MinHashA(i)} + ${MinHashB(i)}) % $P31"
}
