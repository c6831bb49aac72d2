package graft
package scale

import org.apache.spark.sql.SparkSession

/** An artifact's fields, in order. Values are Long, Int, Double
  * (written with 4 decimals), Boolean, String, a Seq of values, or
  * nested Fields. */
final case class Fields(kv: (String, Any)*) {
  def apply(key: String): Any = kv.collectFirst { case (`key`, v) => v }
    .getOrElse(throw new NoSuchElementException(s"no field $key in ${kv.map(_._1)}"))
  def long(key: String): Long = apply(key) match {
    case n: Int => n.toLong; case n => n.asInstanceOf[Long]
  }
  def double(key: String): Double = apply(key) match {
    case n: Int => n.toDouble; case n: Long => n.toDouble; case d => d.asInstanceOf[Double]
  }
  def bool(key: String): Boolean = apply(key).asInstanceOf[Boolean]
  def obj(key: String): Fields = apply(key).asInstanceOf[Fields]
  def seq(key: String): Seq[Any] = apply(key).asInstanceOf[Seq[Any]]
  def ++(more: Fields): Fields = Fields(kv ++ more.kv: _*)

  def json: String = kv.map { case (k, v) => Fields.render(k) + ":" + Fields.render(v) }
    .mkString("{", ",", "}")
}

object Fields {
  private def render(v: Any): String = v match {
    case f: Fields => f.json
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    // Locale.ROOT: a comma-decimal default locale would break the JSON
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    case s: String => s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }.mkString("\"", "", "\"")
    case other => other.toString
  }
}

/** One scale case, declared once in its family file under
  * `graft/scale`: `build` runs it on a session at a size (its unit is
  * the case's own: rows, edges, batches, ...) and returns the
  * artifact's fields; `check` fails (`require`) unless those fields
  * hold what must hold at every size. `conf` is session SQL conf the
  * case runs under. */
final case class ScaleCase(name: String, artifact: String, defaultSize: Long,
    build: (SparkSession, Long) => Fields, check: Fields => Unit,
    conf: Map[String, String] = Map.empty)
