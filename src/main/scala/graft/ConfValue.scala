package graft

/** The one parse rule for typed `spark.graft.*` values: an unset key takes
  * its default, and a set value that does not parse or lies outside its
  * accepted range fails with an IllegalArgumentException naming the key,
  * what it accepts and the value given. Each caller passes its own lookup
  * (session conf, or session conf then SparkConf).
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

  /** A whole number in [min, max], written as plain digits (no 1e7). */
  def long(lookup: String => Option[String], key: String, default: Long,
      min: Long, max: Long = Long.MaxValue): Long =
    lookup(key) match {
      case None => default
      case Some(v) => v.trim.toLongOption.filter(x => x >= min && x <= max).getOrElse(
        throw new IllegalArgumentException(s"$key must be an integer in [$min, $max], got '$v'"))
    }

  def int(lookup: String => Option[String], key: String, default: Int,
      min: Int, max: Int = Int.MaxValue): Int =
    long(lookup, key, default.toLong, min.toLong, max.toLong).toInt
}
