package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** URI/path helpers (SURVEY F5): the reference normalizes S3 URIs and
  * splits them into bucket/key/basename by hand
  * (`/root/reference/AWS_S3/s3_key_monitor.py:45-53`,
  * `/root/reference/AWS_S3/s3_bucket_monitor.py:31-40`).
  */
object PathOps {

  final case class ParsedUri(scheme: String, bucket: String, key: String) {
    def basename: String = key.split("/").filter(_.nonEmpty).lastOption.getOrElse(bucket)
  }

  /** Parse "scheme://bucket/key..." (driver-side, config parsing). */
  def parseUri(uri: String): ParsedUri = {
    val norm = uri.replaceAll("/+$", "")
    val (scheme, rest) = norm.split("://") match {
      case Array(s, r) => (s, r)
      case _ => ("", norm)
    }
    rest.split("/", 2) match {
      case Array(b, k) => ParsedUri(scheme, b, k)
      case Array(b) => ParsedUri(scheme, b, "")
    }
  }
}

/** Nested-structure flattening (SURVEY F13): the reference recursively
  * flattens config dicts to `PARENT_CHILD` env keys
  * (`/root/reference/databand_airflow_monitor.py:66-87`). Here the same
  * idea applied to Spark schemas: nested StructTypes flatten to
  * `parent__child` columns (so any profiler/monitor treats nested data as
  * first-class columns), and driver-side maps flatten to env-style pairs.
  */
object Flatten {

  /** All leaf columns of a schema as (flatName, column) pairs. */
  private def leaves(schema: StructType, prefix: Seq[String], sep: String)
      : Seq[(String, Column)] =
    schema.fields.toSeq.flatMap { f =>
      val path = prefix :+ f.name
      f.dataType match {
        case s: StructType => leaves(s, path, sep)
        case _ => Seq((path.mkString(sep), col(path.map(p => s"`$p`").mkString("."))))
      }
    }

  /** Flatten every nested struct column to `parent__child` leaf columns. */
  def flattenStructs(df: DataFrame, sep: String = "__"): DataFrame = {
    val cols = leaves(df.schema, Nil, sep).map { case (n, c) => c.as(n) }
    df.select(cols: _*)
  }

  /** Driver-side recursive map flatten + env-style uppercase, mirroring
    * `flatten` + `to_env` (`databand_airflow_monitor.py:66-87`).
    */
  def toEnv(m: Map[String, Any], parent: String = "", sep: String = "_")
      : Map[String, String] =
    m.flatMap {
      case (k, v: Map[_, _]) =>
        toEnv(v.asInstanceOf[Map[String, Any]],
          if (parent.isEmpty) k else s"$parent$sep$k", sep)
      case (k, v) =>
        val key = (if (parent.isEmpty) k else s"$parent$sep$k").toUpperCase
        Map(key -> String.valueOf(v))
    }
}
