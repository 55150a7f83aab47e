package perfbench

import java.io.File

/** Small helpers shared by the workloads: medians, timing, JSON output
  * and on-disk accounting.
  */
object Util {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  def seconds(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, seconds(t0, System.nanoTime()))
  }

  /** Regular-file bytes and file count under `dir` (0 when absent). */
  def du(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (dir.length(), 1L)
    else Option(dir.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  def duMb(dirs: Seq[String]): Double =
    dirs.map(d => du(new File(d))._1).sum / 1e6

  /** Scala maps, sequences, strings and numbers as JSON; doubles keep
    * every digit.
    */
  def json(v: Any): String =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsString(v)

  def writeFile(path: String, content: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(content) finally w.close()
  }
}
