package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev diagnostic: synthesize an sf1-scale BENCH dataset from sf0.1 by
  * unioning N id-shifted copies (correctness still gates on the driver
  * fixtures — this data exists only to catch low-parallelism plan shapes
  * empirically at 10× the usual bench scale; see VERDICT r4 item 9).
  *
  * Key families shift consistently (orderkey on both orders and lineitem,
  * custkey on both customer and orders, …) so join selectivities are
  * preserved; dimension tables (nation/region) stay fixed.
  *
  * Content decorrelation across copies — a real 10× corpus is ten
  * independent corpora, not ten clone families, and clone families make
  * every pairwise operator quadratically pessimistic (a shingle shared by
  * c copies × d docs fans out (cd)²/2 join rows instead of c·d²/2):
  *  - documents.text: per-copy Caesar shift of the full alphabet. EVERY
  *    token changes, so no shingle, fingerprint, or MinHash band collides
  *    across copies, while within-copy structure (token counts, shingle
  *    set sizes, dup clusters) is preserved exactly. (The previous
  *    single-letter translate left e-less words — most of this fixture's
  *    vocabulary — identical across copies, so LSH buckets still merged
  *    all 10 copies: sf1 candidate pairs ran ~100×, not ~10×, sf0.1.)
  *  - embeddings.embedding: per-copy rotation by θᵢ = 0.7·i rad in each
  *    coordinate plane (2j, 2j+1). Orthogonal, so within-copy cosines,
  *    norms, and top-k neighbor structure are preserved EXACTLY; the
  *    cross-copy cosine of a vector and its rotated clone is cos θ
  *    (≤ cos 0.7 ≈ 0.76 for adjacent copies), safely below every
  *    near-dup threshold in the suite.
  *
  * Usage: runMain graft.tools.ScaleUp [targetDir] [copies]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val target = args.headOption.getOrElse("/tmp/sf1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val src = "/root/testdata/sf0.1"
    val spark = graft.util.Sessions.local(8)
    spark.sparkContext.setLogLevel("WARN")

    val Off = 100_000_000_000L // far above any sf0.1 id
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    // copy i's alphabet, rotated by i (copy 0 keeps the text verbatim)
    def shiftedAlphabet(i: Int): String = {
      val r = i % 26
      alphabet.substring(r) + alphabet.substring(0, r)
    }

    def shifted(name: String, keyCols: Seq[String],
        mutate: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = graft.Tables.load(spark, src, name)
      val parts = (0 until copies).map { i =>
        val s = keyCols.foldLeft(base)((d, k) =>
          d.withColumn(k, col(k) + lit(i.toLong * Off)))
        mutate(s, i)
      }
      parts.reduce(_ unionByName _)
        .repartition(16)
        .write.mode("overwrite").parquet(s"$target/$name.parquet")
      println(s"wrote $name x$copies")
    }

    shifted("region", Nil)
    shifted("nation", Nil)
    shifted("customer", Seq("c_custkey"))
    shifted("supplier", Seq("s_suppkey"))
    shifted("part", Seq("p_partkey"))
    shifted("orders", Seq("o_orderkey", "o_custkey"))
    shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    shifted("events", Seq("event_id", "user_id"))
    shifted("documents", Seq("doc_id"), (d, i) =>
      d.withColumn("text", translate(col("text"),
        alphabet + alphabet.toUpperCase,
        shiftedAlphabet(i) + shiftedAlphabet(i).toUpperCase)))
    shifted("embeddings", Seq("vec_id"), (d, i) => {
      if (i == 0) d else {
        val th = 0.7 * i
        val c = math.cos(th).toFloat
        val s = math.sin(th).toFloat
        // plane rotation (2j, 2j+1): even slot pairs with its successor,
        // odd with its predecessor; a trailing unpaired dim stays fixed
        d.withColumn("embedding", expr(
          s"""transform(embedding, (v, j) -> CASE
             |  WHEN j % 2 = 0 AND j + 1 < size(embedding)
             |    THEN CAST($c * v - $s * element_at(embedding, j + 2) AS FLOAT)
             |  WHEN j % 2 = 1
             |    THEN CAST($s * element_at(embedding, j) + $c * v AS FLOAT)
             |  ELSE v END)""".stripMargin))
      }
    })
    spark.stop()
  }
}
