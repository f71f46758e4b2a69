package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Seeded changelogs. `graft.cdc.CdcGenerator` rolls `md5(seq)` from a
  * fixed origin; this keeps its shape (60/30/10 insert/update/delete,
  * keys drawn from a small key space so they repeat) but rolls
  * `md5(seed:stream:seq:tag)`, so the benchmark's seed picks the log. */
object Gen {
  final case class Change(seq: Long, op: String, key: Long, value: Long)

  /** First 32 bits of md5(text), as CdcGenerator's `conv(substring(md5, 1, 8), 16, 10)`. */
  def roll(text: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Changes `from until from + n` of stream `stream`. */
  def changes(seed: Long, stream: String, from: Long, n: Int, keySpace: Long,
              values: Long): IndexedSeq[Change] =
    (from until from + n).map { seq =>
      def r(tag: String) = roll(s"$seed:$stream:$seq:$tag")
      val p = r("op") % 100
      val op = if (p < 10) "d" else if (p < 40) "u" else "c"
      Change(seq, op, r("key") % keySpace, r("val") % values)
    }

  /** Debezium envelope strings for `batches`, encoded by the program's
    * `Envelope.encode` (row image: id, seq, value = cents / 100). */
  def envelopes(spark: SparkSession, batches: IndexedSeq[IndexedSeq[Change]]): IndexedSeq[IndexedSeq[String]] = {
    import spark.implicits._
    val rows = batches.zipWithIndex.flatMap { case (b, i) =>
      b.map(c => (i, c.seq, c.op, c.key, c.value / 100.0)) }
    val enc = rows.toDF("batch", "seq", "op", "id", "value")
      .select(col("batch"), col("seq"), graft.cdc.Envelope.encode(col("op"), col("seq"),
        Seq(col("id"), col("seq"), col("value")), "benchdb", "items").as("json"))
      .as[(Int, Long, String)].collect()
    val byBatch = enc.groupBy(_._1)
    batches.indices.map(i => byBatch(i).sortBy(_._2).map(_._3).toIndexedSeq)
  }

  /** Driver-side replay: the live row of each key after a changelog. */
  final class Replay {
    val live = mutable.HashMap.empty[Long, Change]
    def apply(c: Change): Unit = if (c.op == "d") live.remove(c.key) else live(c.key) = c
  }
}
