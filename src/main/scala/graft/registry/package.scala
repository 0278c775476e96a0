package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs and SQL fragments shared by the query modules. */
package object registry {

  /** The events table cut at [[DriftQueries.PsiCutoff]] into its
    * (reference, current) snapshots.
    */
  private[graft] def eventsSplit(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.load(s, dir, "events")
    val cut = lit(DriftQueries.PsiCutoff).cast("timestamp")
    (ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut))
  }

  /** DuckDB twin of the house tokenizer (lower-cased [a-z0-9]+ runs). */
  private[graft] val tokSql = "regexp_extract_all(lower(text), '[a-z0-9]+')"

  /** Guarded bigram shingles from a token-list column `ws`. */
  private[graft] val bigramsSql =
    "CASE WHEN len(ws) < 2 THEN []::VARCHAR[] ELSE " +
      "list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) END"
}
