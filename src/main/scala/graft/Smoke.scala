package graft

/** Shared plumbing of the `*ScaleSmoke` mains: wall-clock timing,
  * fixed-digit JSON numbers and the one-line artifact each smoke
  * writes. Artifacts land in the CURRENT directory, so run smokes from
  * a scratch checkout when the committed `BENCH_SCALE_*.json` files
  * must stay as captured. */
object Smoke {

  /** `f`'s result and its wall time in seconds. */
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Seconds of the faster of two timed runs of `f`, after one untimed
    * warm-up run (codegen, JIT). */
  def warmMin(f: => Any): Double = {
    f
    (1 to 2).map(_ => time(f)._2).min
  }

  /** `v` with `digits` decimals. Locale.ROOT: a comma-decimal default
    * locale would render 77,70 and break the JSON artifact. */
  def fmt(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
  def fmt2(v: Double): String = fmt(v, 2)
  def fmt3(v: Double): String = fmt(v, 3)

  /** Print the artifact's JSON line and write it to `file` in the
    * current directory. */
  def artifact(file: String, json: String): Unit = {
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(file), json)
  }
}
