package perfbench

import java.io.File
import scala.io.Source

/** Recorded output signatures: `entry<TAB>sf<TAB>signature` per line. */
object Signatures {
  def key(entry: String, sf: Double): String = s"$entry@$sf"

  def load(f: File): Map[String, String] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(e, sf, sig) = l.split('\t')
      key(e, sf.toDouble) -> sig
    }.toMap finally src.close()
  }

  def format(rows: Seq[(String, Double, String)]): String =
    rows.map { case (e, sf, s) => s"$e\t$sf\t$s" }.mkString(
      "# entry\tsf\trows:xor:sum of the per-row xxhash64 (see Entries.scala)\n", "\n", "\n")
}
