package graft

/** The one parse rule for typed `spark.graft.*` values and the
  * `SPARK_GRAFT_CPUS` variable: an unset key takes its default, and a set
  * value that does not parse or lies outside its accepted range fails with
  * an IllegalArgumentException naming the key, what it accepts and the value
  * given. Each caller passes its own lookup (session conf, session conf then
  * SparkConf, or the environment).
  */
object ConfValue {

  def bool(lookup: String => Option[String], key: String, default: Boolean): Boolean =
    lookup(key) match {
      case None => default
      case Some(v) => v.trim.toLowerCase match {
        case "true" => true
        case "false" => false
        case _ => throw new IllegalArgumentException(s"$key must be 'true' or 'false', got '$v'")
      }
    }

  /** A whole number ≥ min, written as plain digits (no 1e7). */
  def int(lookup: String => Option[String], key: String, default: Int, min: Int): Int =
    lookup(key) match {
      case None => default
      case Some(v) => v.trim.toIntOption.filter(_ >= min).getOrElse(
        throw new IllegalArgumentException(s"$key must be an integer >= $min, got '$v'"))
    }
}
