package graft.perfbench

import java.io.File

/** Shared lake bookkeeping for the traced run and the correctness checks. */
object Sinks {
  /** Adds one commit's file changes (parquet path -> bytes, before/after). */
  def recordFiles(rec: Rec, before: Map[String, Long], after: Map[String, Long]): Unit = {
    val added = after.keySet -- before.keySet
    val removed = before.keySet -- after.keySet
    rec.add("sink.files_added", added.size)
    rec.add("sink.files_removed", removed.size)
    rec.add("sink.bytes_added", added.toSeq.map(after).sum)
    rec.add("sink.partitions_touched", (added ++ removed).map(new File(_).getParent).size)
  }

  def parquet(dir: File): Map[String, Long] = Main.listFiles(dir).filter(_._1.endsWith(".parquet"))

  /** Field-wise equality, doubles to a relative 1e-9. */
  def sameRow(have: Seq[Any], want: Seq[Any]): Boolean =
    have.size == want.size && have.zip(want).forall {
      case (a: Double, b: Double) => math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
      case (a: java.lang.Number, b: java.lang.Number) if !a.isInstanceOf[Double] =>
        a.longValue == b.longValue
      case (a, b) => a == b
    }
}
