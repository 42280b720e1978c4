package perfbench

import java.io.File

/** Directory helpers for the run's own on-disk state. */
object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Regular files under `f`, recursively (hidden CRC files included:
    * they are bytes on disk too). */
  def list(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(list)
    else if (f.isFile) Seq(f) else Seq.empty

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten.foreach(c =>
        copyTree(c, new File(to, c.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  def bytes(f: File): Long = list(f).map(_.length()).sum

  /** path -> size of every data file (not CRC/marker files) under `f`. */
  def dataFiles(f: File): Map[String, Long] =
    list(f).filter(x => x.getName.endsWith(".parquet") ||
        x.getName.endsWith(".csv") || x.getName.endsWith(".png"))
      .map(x => x.getPath -> x.length()).toMap
}

/** Order statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The nearest-rank 90th percentile: (value, percentile, n). Runs
    * hold 3 to 15 ops, too few for a tail with ten samples beyond it. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    val i = math.ceil(0.9 * n).toInt - 1
    (s(i), 100.0 * (i + 1) / n, n)
  }
}
