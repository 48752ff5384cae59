package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Strings cast from binary may end inside a multi-byte UTF-8 sequence.
  * The simhash and minhash kernels must not read past the buffer: a
  * truncated sequence decodes with its missing continuation bytes as zero
  * bits, i.e. exactly like the same bytes padded with 0x80. Checked
  * through the DataFrame path with whole-stage codegen on and off, and
  * through the expressions' interpreted eval. */
class TruncatedUtf8Spec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private val ab = "ab".getBytes("UTF-8")
  // (truncated, the same sequence completed with zero-payload bytes)
  private val cases = Seq(
    (ab ++ bytes(0xC3), ab ++ bytes(0xC3, 0x80)),
    (ab ++ bytes(0xE6, 0x9D), ab ++ bytes(0xE6, 0x9D, 0x80)),
    (ab ++ bytes(0xE6), ab ++ bytes(0xE6, 0x80, 0x80)),
    (ab ++ bytes(0xF0, 0x9F, 0x92), ab ++ bytes(0xF0, 0x9F, 0x92, 0x80)),
    (bytes(0x20, 0xF0), bytes(0x20, 0xF0, 0x80, 0x80, 0x80)),
    (bytes(0xE6), bytes(0xE6, 0x80, 0x80)))

  private def viaDf(ws: String): Seq[(Long, Seq[Long])] = {
    import spark.implicits._
    spark.conf.set("spark.sql.codegen.wholeStage", ws)
    // repartitioned so the optimizer cannot fold the projection into a
    // local relation (which would evaluate it interpreted)
    try cases.flatMap { case (t, p) => Seq(t, p) }.zipWithIndex
      .toDF("b", "i").repartition(2)
      .select(col("i"), Simhash.simhashSig(col("b").cast("string"), 16),
        MinhashSigs.sigs(col("b").cast("string"), 4))
      .collect().toSeq.sortBy(_.getInt(0))
      .map(r => (r.getLong(1), r.getSeq[Long](2)))
    finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("truncated sequences decode like their zero-padded completion") {
    val codegen = viaDf("true")
    assert(viaDf("false") == codegen)
    for (((t, p), i) <- cases.zipWithIndex)
      assert(codegen(2 * i) == codegen(2 * i + 1),
        s"case $i: ${t.map(b => f"${b & 0xFF}%02x").mkString(" ")}")
    // interpreted expression eval agrees with the DataFrame path
    for (((t, _), i) <- cases.zipWithIndex) {
      val lit = Literal(UTF8String.fromBytes(t), StringType)
      assert(SimhashSigExpr(lit, 16).eval(null) == codegen(2 * i)._1)
      assert(MinhashSigsExpr(lit, 4).eval(null).asInstanceOf[
        org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq ==
        codegen(2 * i)._2)
    }
  }
}
