package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Profiler
import graft.operators.{Dedup, PrefixSum, TextOps}
import graft.state.ChangeDetection

import TestSpark._

/** Property-based invariants (SURVEY §5.2), using ScalaCheck generators
  * with a deterministic seeded sample loop (the scalatest-scalacheck
  * bridge isn't on the offline classpath). Sample counts are small — each
  * case round-trips through Spark jobs.
  */
class PropertySpec extends AnyFunSuite {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 5): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val valuesGen: Gen[List[Option[Double]]] =
    Gen.listOfN(30, Gen.oneOf(
      Gen.const(None),
      Gen.const(Some(Double.NaN)),
      Gen.chooseNum(-1e6, 1e6).map(d => Some(d))))

  test("profile invariants: counts partition rows; min <= p25 <= median <= p75 <= max") {
    for (xs <- samples(valuesGen)) {
      val df = xs.toDF("x")
      val m = Profiler.numericProfile(df).collect()
        .map(r => r.getString(1) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .toMap
      assert(m("count").get + m("null_count").get == xs.size.toDouble)
      for (Seq(a, b) <- Seq("min", "p25", "median", "p75", "max").sliding(2).toSeq)
        (m(a), m(b)) match {
          case (Some(x), Some(y)) => assert(x <= y, s"$a=$x > $b=$y")
          case _ => // all-null column: all order stats absent together
        }
      assert(m("distinct_count").get <= m("count").get)
    }
  }

  test("duplicateStats: dupes = rows - distinct >= 0, groups <= distinct") {
    for (ks <- samples(Gen.listOfN(25, Gen.chooseNum(0, 5))) if ks.nonEmpty) {
      val r = Profiler.duplicateStats(ks.toDF("k"), Seq("k")).collect().head
      assert(r.getAs[Long]("row_count") == ks.size.toLong)
      assert(r.getAs[Long]("duplicate_count") == ks.size - ks.distinct.size)
      assert(r.getAs[Long]("duplicate_groups") <= r.getAs[Long]("distinct_count"))
    }
  }

  test("drift(a, a) is empty; drift is antisymmetric in added/removed") {
    for (cols <- samples(Gen.listOfN(6, Gen.identifier.suchThat(_.nonEmpty)), 3)) {
      val a = cols.distinct
      assert(ChangeDetection.schemaDrift(a, a, spark).count() == 0)
      val b = a.drop(1) :+ "zz_new"
      val ab = ChangeDetection.schemaDrift(a, b, spark).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val ba = ChangeDetection.schemaDrift(b, a, spark).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(ab.map { case (c, n) => (if (c == "added") "removed" else "added", n) } == ba)
    }
  }

  test("minhash signatures of identical docs always collide") {
    val textGen = Gen.listOfN(12,
      Gen.oneOf("spark", "data", "table", "query", "row", "scan", "fast"))
      .map(_.mkString(" "))
    for (t <- samples(textGen, 3)) {
      val docs = Seq((1L, t, "s"), (2L, t, "s")).toDF("doc_id", "text", "source")
      val sigs = Dedup.minhashSignatures(docs)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(sigs(1L) == sigs(2L))
    }
  }

  test("sessionize invariants: events partition into sessions; gaps bound spans") {
    val evGen = Gen.listOfN(25, for {
      u <- Gen.chooseNum(1L, 3L)
      t <- Gen.chooseNum(0L, 200000L)
    } yield (u, t))
    for (evs <- samples(evGen, 3)) {
      val df = evs.zipWithIndex.map { case ((u, t), i) =>
        (i.toLong, new java.sql.Timestamp(t * 1000), u, 1.0)
      }.toDF("event_id", "ts", "user_id", "value")
      val gap = 30000L
      val s = graft.operators.Sessionize.sessionSummary(df, gap).collect()
      // every event lands in exactly one session
      assert(s.map(_.getAs[Long]("n_events")).sum == evs.size)
      // a session of n events spans at most (n-1) * gap seconds
      s.foreach { r =>
        assert(r.getAs[Long]("duration_sec") <=
          (r.getAs[Long]("n_events") - 1) * gap)
      }
    }
  }

  test("connected components: labels are component minima and idempotent") {
    val pairGen = Gen.listOfN(12, for {
      a <- Gen.chooseNum(1L, 15L); b <- Gen.chooseNum(1L, 15L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    for (pairs <- samples(pairGen, 3) if pairs.nonEmpty) {
      val df = pairs.toDF("doc_a", "doc_b")
      val cc = Dedup.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // every endpoint is labeled; label ≤ id; label is itself in the set
      pairs.foreach { case (a, b) =>
        assert(cc.contains(a) && cc.contains(b))
        assert(cc(a) == cc(b)) // direct edge → same component
      }
      cc.foreach { case (id, lab) =>
        assert(lab <= id && cc(lab) == lab) // root labels itself
      }
    }
  }

  test("pack: bucketed prefix sum ≡ global window for random docs/budgets/buckets") {
    import org.apache.spark.sql.functions.{col, floor, sum => fsum}
    import org.apache.spark.sql.expressions.Window
    val docsGen = for {
      n <- Gen.chooseNum(1, 40)
      toks <- Gen.listOfN(n, Gen.chooseNum(0L, 500L))
      grps <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
      budget <- Gen.chooseNum(1L, 800L)
      buckets <- Gen.chooseNum(1, 9)
    } yield (toks, grps, budget, buckets)
    for ((toks, grps, budget, buckets) <- samples(docsGen, 4)) {
      val df = toks.zip(grps).zipWithIndex
        .map { case ((t, g), i) => (i.toLong * 3 + 1, g, t) } // sparse ids
        .toDF("doc_id", "source", "n_tokens")
      val w = Window.partitionBy("source").orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expect = df.withColumn("shard",
          floor((fsum(col("n_tokens")).over(w) - col("n_tokens")) / budget))
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      val got = graft.operators.Pack
        .assignShards(df, budget, "source", buckets = buckets)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(got == expect,
        s"budget=$budget buckets=$buckets diverged from the window formulation")
    }
  }

  test("chunking properties: counts, coverage, reconstruction for stride == window") {
    val gen = for {
      n <- Gen.chooseNum(0, 30)
      ws <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta"))
      window <- Gen.chooseNum(1, 8)
    } yield (ws, window)
    for ((ws, window) <- samples(gen, 4)) {
      val df = Seq((1L, ws.mkString(" "))).toDF("doc_id", "text")
      // stride == window: chunks partition the token stream exactly
      val chunks = graft.operators.Chunk.chunkByTokens(df, window, window)
        .orderBy("chunk_idx").collect()
      if (ws.isEmpty) assert(chunks.isEmpty)
      else {
        assert(chunks.length == math.ceil(ws.size.toDouble / window).toInt)
        val rebuilt = chunks.map(_.getString(3)).mkString(" ")
        assert(rebuilt == ws.mkString(" "),
          "stride==window chunks must reconstruct the token stream")
        assert(chunks.map(_.getLong(2)).sum == ws.size.toLong)
      }
    }
  }

  test("hammingPairs ≡ brute force for random 60-bit hash sets") {
    val hashGen: Gen[List[Long]] = for {
      // cluster around a few centers so near pairs actually occur
      centers <- Gen.listOfN(3, Gen.chooseNum(0L, (1L << 60) - 1))
      xs <- Gen.listOfN(12, for {
        c <- Gen.oneOf(centers)
        flips <- Gen.chooseNum(0, 8)
        bits <- Gen.listOfN(flips, Gen.chooseNum(0, 59))
      } yield bits.foldLeft(c)((h, b) => h ^ (1L << b)))
    } yield xs
    for (xs <- samples(hashGen, n = 3)) {
      val rows = xs.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      val got = Dedup.hammingPairs(rows.toDF("doc_id", "ph"), maxHamming = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      graft.util.Caches.releaseAll()
      val want = (for {
        (a, ia) <- rows; (b, ib) <- rows if a < b
        d = java.lang.Long.bitCount(ia ^ ib) if d <= 5
      } yield (a, b, d)).toSet
      assert(got == want, s"banded pairing must be exact: got $got want $want")
    }
  }

  test("ingestDelivery folded over deliveries ≡ whole-corpus exact dedup") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text")
    // three deliveries in rising-id order (the production id discipline)
    val deliveries = Seq(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2))
    // ids rise WITHIN each slice but not across them — reassign ingest
    // order by sorting each delivery's ids into disjoint ranges
    var store = graft.operators.Pipeline.emptyFingerprintStore(spark)
    var keptIds = Set.empty[Long]
    // fold in id order so min-id survivorship matches the batch form:
    // deliveries of % 3 == 0,1,2 each contain arbitrary ids, so instead
    // fold the three ID RANGES (thirds of the sorted id space)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    val ranges = Seq(
      docs.filter(col("doc_id") < cuts.head),
      docs.filter(col("doc_id") >= cuts.head && col("doc_id") < cuts(1)),
      docs.filter(col("doc_id") >= cuts(1)))
    ranges.foreach { d =>
      val (kept, next) = graft.operators.Pipeline.ingestDelivery(store, d)
      keptIds ++= kept.select("doc_id").collect().map(_.getLong(0))
      store = next.localCheckpoint()
    }
    val batch = Dedup.dropExactDuplicates(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds == batch,
      "incremental fold must keep exactly the whole-corpus survivors")
  }

  test("fingerprint invariance under token permutation") {
    for (ws <- samples(Gen.listOfN(8, Gen.identifier.suchThat(_.nonEmpty)), 3)
         if ws.nonEmpty) {
      val shuffled = new scala.util.Random(7).shuffle(ws)
      val df = Seq(ws.mkString(" "), shuffled.mkString(" ")).toDF("text")
      val fps = df.select(TextOps.fingerprint(org.apache.spark.sql.functions.col("text")))
        .collect().map(_.getString(0))
      assert(fps(0) == fps(1))
    }
  }
}

/** Property check for the hybrid PrefixSum (SURVEY §5.2 style, seeded
  * sample loop): random grouped censuses — nulls, negatives, ±extreme
  * magnitudes, duplicate group keys — must produce the exact exclusive
  * value-prefix sums of an independently computed driver reference, on
  * BOTH regimes (stat path and the pinned bucket path).
  */
class Round13PrefixSumPropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int = 4): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(97L + i)))

  private val rowGen: Gen[(String, Option[Long], Long)] = for {
    g <- Gen.oneOf("a", "b", "c")
    v <- Gen.oneOf(
      Gen.const(Option.empty[Long]),
      Gen.chooseNum(-1000L, 1000L).map(Option(_)),
      Gen.oneOf(Long.MinValue + 7, -(1L << 62), 1L << 62,
        Long.MaxValue - 7).map(Option(_)))
    c <- Gen.chooseNum(0L, 50L)
  } yield (g, v, c)

  /** distinct-value census per group with summed counts (the caller
    * contract), plus the driver-side expected exclusive prefix.
    */
  private def censusAndExpected(rows: List[(String, Option[Long], Long)])
      : (Seq[(String, Option[Long], Long)], Map[(String, Option[Long]), Long]) = {
    val census = rows.groupBy(r => (r._1, r._2))
      .map { case ((g, v), rs) => (g, v, rs.map(_._3).sum) }.toSeq
    val expected = census.groupBy(_._1).flatMap { case (g, rs) =>
      val sorted = rs.sortBy(r => (if (r._2.isEmpty) 0 else 1,
        r._2.getOrElse(0L)))
      var acc = 0L
      sorted.map { r =>
        val off = acc; acc += r._3; (g, r._2) -> off
      }
    }
    (census, expected)
  }

  test("cumBeforeBy ≡ driver reference on random grouped censuses, " +
    "both regimes") {
    import spark.implicits._
    for (rows <- samples(Gen.listOfN(40, rowGen)) if rows.nonEmpty) {
      val (census, expected) = censusAndExpected(rows)
      val df = census.map { case (g, v, c) =>
        (g, v.map(java.lang.Long.valueOf).orNull, c)
      }.toDF("g", "v", "c").repartition(3)
      for (buckets <- Seq(0, 5)) {
        val got = PrefixSum.cumBeforeBy(df, Seq("g"), "v", "c", "cb",
          "Round13PrefixSumPropertySpec", buckets)
          .collect()
          .map(r => (r.getString(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1))) -> r.getLong(3))
          .toMap
        assert(got === expected, s"buckets=$buckets census=$census")
        graft.util.Caches.releaseAll()
      }
    }
  }

  test("cumBeforeBy keeps NULL group keys on BOTH regimes (round-13 " +
    "ADVICE: the bucket path's offset join must be null-safe like the " +
    "stat path's)") {
    import spark.implicits._
    val gGen: Gen[Option[String]] =
      Gen.oneOf(Option.empty[String], Some("a"), Some("b"))
    val nullableRowGen = for {
      g <- gGen; (_, v, c) <- rowGen
    } yield (g, v, c)
    for (rows <- samples(Gen.listOfN(40, nullableRowGen)) if rows.nonEmpty) {
      // reuse the reference machinery by encoding null as a sentinel,
      // then decode for the DataFrame so the engine sees REAL nulls
      val enc = rows.map { case (g, v, c) => (g.getOrElse("\u0000"), v, c) }
      val (census, expected0) = censusAndExpected(enc)
      val expected = expected0.map { case ((g, v), off) =>
        (if (g == "\u0000") None else Some(g), v) -> off }
      val df = census.map { case (g, v, c) =>
        (if (g == "\u0000") null else g,
          v.map(java.lang.Long.valueOf).orNull, c)
      }.toDF("g", "v", "c").repartition(3)
      for (buckets <- Seq(0, 5)) {
        val got = PrefixSum.cumBeforeBy(df, Seq("g"), "v", "c", "cb",
          "Round13PrefixSumPropertySpec.nullBy", buckets)
          .collect()
          .map(r => (Option(r.getString(0)),
            if (r.isNullAt(1)) None else Some(r.getLong(1))) -> r.getLong(3))
          .toMap
        assert(got === expected, s"buckets=$buckets census=$census")
        graft.util.Caches.releaseAll()
      }
    }
  }
}
