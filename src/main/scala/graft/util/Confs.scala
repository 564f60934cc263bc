package graft.util

import java.util.Locale

import org.apache.spark.sql.SparkSession

/** Typed reads of graft's session confs and table properties. */
object Confs {

  /** A boolean session conf: `default` when unset, else `true` or `false`
    * (any case, surrounding blanks ignored). Any other value fails with an
    * [[IllegalArgumentException]] naming the key and the value. */
  def bool(spark: SparkSession, key: String, default: Boolean): Boolean =
    spark.conf.getOption(key).fold(default)(parseBool(key, _))

  def parseBool(key: String, value: String): Boolean =
    value.trim.toLowerCase(Locale.ROOT) match {
      case "true" => true
      case "false" => false
      case _ => throw new IllegalArgumentException(
        s"$key must be true or false, got '$value'")
    }
}
