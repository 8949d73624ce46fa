package graft

import graft.queries.RelationalQueries
import org.apache.spark.sql.functions._

/** Gates for the sketch layer (k1) — the properties an approximate
  * operator must hold since no DuckDB oracle can reproduce sketch
  * internals: bounded error against the exact answer, and the merge
  * identity that makes sketches usable at scale (partial sketches union
  * into exactly the sketch of the union). */
class SketchSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("k1: HLL estimates within 5% of exact; approx median within 2% of exact; " +
      "MinHash estimator within its 4-sigma envelope") {
    val df = RelationalQueries.k1SketchesFull(spark, dir)
    val rows = df.collect()
    val idx = df.columns.zipWithIndex.toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, est) = (r.getLong(idx("n_exact")), r.getLong(idx("n_hll")))
      assert(math.abs(est - exact).toDouble / exact < 0.05,
        s"${r.getString(0)}: hll $est vs exact $exact")
      val (p50e, p50a) =
        (r.getDouble(idx("p50_exact")), r.getDouble(idx("p50_approx")))
      assert(math.abs(p50a - p50e) <= 0.02 * math.max(1.0, math.abs(p50e)),
        s"${r.getString(0)}: approx p50 $p50a vs exact $p50e")
      // 128-slot MinHash distinct estimator: RSE ≈ 1/√128 ≈ 8.8%; gate
      // at 4σ ≈ 35% — loose enough to never flip on a regenerated tier,
      // tight enough to catch a broken estimator (the VALUE is already
      // hash-gated by the k1 oracle; this pins the statistics)
      val mh = r.getLong(idx("n_mh_est"))
      assert(math.abs(mh - exact).toDouble / exact < 0.35,
        s"${r.getString(0)}: minhash $mh vs exact $exact")
    }
  }

  test("k1: per-shard MinHash slot-mins merge into exactly the global estimate") {
    val ev = Sources.testdata(spark, dir)("events")
    val K = RelationalQueries.MhSlots
    def slotMins(d: org.apache.spark.sql.DataFrame) = {
      // the query's own base-hash + affine-slot expressions, so this
      // merge-identity pin can never drift from the gated recipe
      val aggs = (0 until K).map(i =>
        min(expr(RelationalQueries.mhSlotExpr(i))).as(s"m$i"))
      d.withColumn("mh_h", expr(RelationalQueries.MhBaseExpr))
        .agg(aggs.head, aggs.tail: _*).head.toSeq.map(_.asInstanceOf[Long])
    }
    val direct = slotMins(ev)
    // shard-wise signatures (slot-wise min is associative) — min of the
    // per-shard mins must equal the one-pass mins
    val shards = (0 until 3).map(s =>
      slotMins(ev.filter(pmod(col("event_id"), lit(3)) === s)))
    val merged = (0 until K).map(i => shards.map(_(i)).min)
    assert(direct == merged, "shard-merged slot mins must equal one-pass mins")
  }

  test("k1: per-partition HLL sketches union into exactly the global estimate") {
    val ev = Sources.testdata(spark, dir)("events")
    val direct = ev
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))")).head.getLong(0)
    val merged = ev
      .withColumn("p", spark_partition_id())
      .groupBy(col("p")).agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))")).head.getLong(0)
    assert(direct == merged, s"direct=$direct merged=$merged")
    // and the estimate is itself deterministic across re-plans
    val again = ev.repartition(7)
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))")).head.getLong(0)
    assert(direct == again)
  }

  test("k7: Count-Min never undercounts, and per-shard grids sum into the global grid") {
    import graft.queries.PipelineQueries
    val rows = PipelineQueries.k7CountMin(spark, dir).collect()
    assert(rows.length == PipelineQueries.CmTopK)
    rows.foreach { r =>
      val (n, est) = (r.getLong(2), r.getLong(3))
      assert(est >= n, s"CM undercounted '${r.getString(1)}': est=$est exact=$n")
      assert(r.getLong(4) == est - n)
    }
    // merge identity: cell-wise SUM of per-shard grids == one-pass grid
    // (what makes the sketch shippable across shards/days/crawls) — built
    // through the query's own cmCells/cmProbeFrame recipe
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(lower(col("text")), " ")).as("tok"), col("doc_id"))
      .filter(length(col("tok")) > 0)
    def grid(d: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] =
      PipelineQueries.cmCells(d.select("tok")).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = grid(toks)
    val shards = (0 until 3).map(s => grid(toks.filter(pmod(col("doc_id"), lit(3)) === s)))
    val merged = shards.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    assert(direct == merged, "shard-summed CM grids must equal the one-pass grid")
  }

  test("k8: HLL registers in range, dense grid, per-shard max-merge equals the one-pass grid") {
    import graft.queries.PipelineQueries
    val rows = PipelineQueries.k8HllDistinct(spark, dir).collect()
    assert(rows.length == PipelineQueries.HllBuckets)
    assert(rows.map(_.getLong(0)).toSet == (0L until PipelineQueries.HllBuckets).toSet,
      "grid must be dense over every bucket")
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 55,
        s"register ${r.getLong(1)} outside [0, 55]")
    }
    // the estimate is within HLL's envelope (σ ≈ 1.04/√64 = 13%; gate at
    // 4σ — the VALUE is already hash-gated by the oracle, this pins the
    // statistics, k1's discipline)
    val (est, exact) = (rows.head.getLong(2), rows.head.getLong(3))
    assert(math.abs(est - exact).toDouble / exact < 0.52,
      s"hll est $est vs exact $exact")
    // merge identity: per-bucket MAX of shard grids == one-pass grid —
    // what makes the sketch shippable across shards/days/crawls — built
    // through the query's own hllGrid recipe
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(lower(col("text")), " ")).as("tok"), col("doc_id"))
      .filter(length(col("tok")) > 0)
    def grid(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      PipelineQueries.hllGrid(spark, d.select("tok")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = grid(toks)
    val shards = (0 until 3).map(s => grid(toks.filter(pmod(col("doc_id"), lit(3)) === s)))
    val merged = shards.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(math.max)
    assert(direct == merged, "shard max-merged HLL grids must equal the one-pass grid")
  }

  test("k9: quantile estimates within the structural ±62500 ppm bound; " +
    "per-shard count-sum merge equals the one-pass grid; small values exact") {
    import graft.queries.PipelineQueries
    val rows = PipelineQueries.k9DdQuantiles(spark, dir).collect()
    assert(rows.nonEmpty, "fixture must exercise the operator")
    rows.foreach { r =>
      val (est, exact, err) = (r.getLong(2), r.getLong(3), r.getLong(4))
      // the estimate's bucket CONTAINS the exact rank value, so the
      // midpoint is off by at most half the bucket width: ±1/16
      assert(math.abs(err) <= 62500L,
        s"${r.getString(0)} q${r.getLong(1)}: est $est vs exact $exact ($err ppm)")
    }
    // merge identity: per-bucket count SUM of shard grids == one-pass
    // grid — what makes the sketch shippable across shards/days/crawls
    val vals = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("n_chars") >= 1)
      .select(col("source").as("g"), col("n_chars").as("v"), col("doc_id"))
    def grid(d: org.apache.spark.sql.DataFrame): Map[(String, Long, Long), Long] =
      PipelineQueries.ddGrid(spark, d.select("g", "v")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(3)) -> r.getLong(4)).toMap
    val direct = grid(vals)
    val shards = (0 until 3).map(s => grid(vals.filter(pmod(col("doc_id"), lit(3)) === s)))
    val merged = shards.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    assert(direct == merged, "shard count-summed DD grids must equal the one-pass grid")
  }

  test("t29: the trim actually trims the tails and keeps the bulk, per source") {
    import graft.queries.PipelineQueries
    val rows = PipelineQueries.t29QuantileTrim(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getBoolean(5)))
    assert(rows.nonEmpty, "fixture must exercise the operator")
    rows.groupBy(_._1).foreach { case (src, g) =>
      val (lo, hi) = (g.head._3, g.head._4)
      assert(lo <= hi, s"$src: lo_bound $lo > hi_bound $hi")
      // verdicts are exactly the band membership
      g.foreach { case (_, n, _, _, kept) =>
        assert(kept == (n >= lo && n <= hi), s"$src: verdict drifted from band")
      }
      // a [p10, p90] band keeps the bulk: target ranks alone guarantee
      // ≥ 80% minus bucket-edge slack — gate at 70%
      val frac = g.count(_._5).toDouble / g.length
      assert(frac >= 0.7, s"$src: kept fraction $frac below the p10/p90 bulk")
    }
  }

  test("t29: planted fixture — decile trim cuts exactly the planted outliers") {
    import spark.implicits._
    import graft.queries.PipelineQueries
    val tmp = java.nio.file.Files.createTempDirectory("graft-trim").toString
    // values 1..10, all below 2^4 so every bucket is exact: p10 target
    // rank 1 → lo = 1, p90 target rank 9 → hi = 9; ONLY the value-10 doc
    // is trimmed — the planted outlier
    (1L to 10L).map(v => (v, "a", v)).toDF("doc_id", "source", "n_chars")
      .withColumn("text", lit("x")).withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = PipelineQueries.t29QuantileTrim(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(out == (1L to 9L).map(_ -> true).toMap + (10L -> false),
      s"decile trim must cut exactly the value-10 outlier, got $out")
  }

  test("k9: planted fixture — small values are exact, geometric buckets bound large ones") {
    import spark.implicits._
    import graft.queries.PipelineQueries
    val tmp = java.nio.file.Files.createTempDirectory("graft-dd").toString
    // group a: values 1..10 (all below 2^4 — every bucket is a single
    // value, so p50=5, p90=9, p99=10 must come back EXACT); group b:
    // 100 copies of 1000 (one big bucket — estimate is the bucket
    // midpoint, within 1/16 of 1000)
    val rows = (1L to 10L).map(v => ("a", v)) ++ Seq.fill(100)(("b", 1000L))
    rows.toDF("source", "n_chars")
      .withColumn("doc_id", monotonically_increasing_id())
      .withColumn("text", lit("x")).withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = PipelineQueries.k9DdQuantiles(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(("a", 500000L)) == ((5L, 5L)), "p50 of 1..10 must be exact")
    assert(out(("a", 900000L)) == ((9L, 9L)), "p90 of 1..10 must be exact")
    assert(out(("a", 990000L)) == ((10L, 10L)), "p99 of 1..10 must be exact")
    for (q <- PipelineQueries.DdQuantilesPpm) {
      val (est, exact) = out(("b", q))
      assert(exact == 1000L && math.abs(est - 1000L) <= 1000L / 16,
        s"constant-column quantile: est $est")
    }
  }

  test("k2: null counts, NDVs and min/max renderings on a fixture WITH nulls") {
    // the driver testdata has no NULLs, so the profile's null path needs
    // its own fixture
    val tmp = java.nio.file.Files.createTempDirectory("graft-k2-nulls").toString
    val schema = new org.apache.spark.sql.types.StructType()
      .add("o_orderkey", "long").add("o_custkey", "long")
      .add("o_orderstatus", "string").add("o_totalprice", "double")
      .add("o_orderdate", "timestamp").add("o_orderpriority", "string")
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val rows = Seq(
      org.apache.spark.sql.Row(1L, 10L, "O", 100.5, ts("2024-01-01"), "1-URGENT"),
      org.apache.spark.sql.Row(2L, null, "F", null, ts("2024-01-02"), null),
      org.apache.spark.sql.Row(3L, 10L, "O", 200.25, ts("2024-01-02"), "2-HIGH"),
      org.apache.spark.sql.Row(4L, 20L, null, 50.0, ts("2024-01-03"), "1-URGENT"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val got = RelationalQueries.k2TableStats(spark, tmp).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(got.keySet == Set("o_custkey", "o_orderdate", "o_orderpriority",
      "o_orderstatus", "o_totalprice"))
    assert(got("o_custkey") == ((4L, 1L, 2L, "10", "20")))
    assert(got("o_orderdate") == ((4L, 0L, 3L, "2024-01-01", "2024-01-03")))
    assert(got("o_orderpriority") == ((4L, 1L, 2L, "1-URGENT", "2-HIGH")))
    assert(got("o_orderstatus") == ((4L, 1L, 2L, "F", "O")))
    assert(got("o_totalprice") == ((4L, 1L, 3L, "50.00", "200.25")))
  }

  test("k11: seed sketch never fills (estimates exact), KMV estimates inside " +
      "the 4-sigma band, intersection estimate bounded by union scale") {
    import graft.queries.PipelineQueries
    val df = PipelineQueries.k11ThetaSketch(spark, dir)
    val idx = df.columns.zipWithIndex.toMap
    val rows = df.collect()
    assert(rows.nonEmpty)
    // exact per-source distinct counts, recomputed independently
    val exact = PipelineQueries.k11Values(spark, dir)
      .groupBy(col("g")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact("seed_tiny") == 3L)
    rows.foreach { r =>
      val (a, b) = (r.getString(idx("src_a")), r.getString(idx("src_b")))
      val (estA, estB) = (r.getLong(idx("est_a")), r.getLong(idx("est_b")))
      // exact mode: the seed's 3-value sketch never fills, so its
      // cardinality estimate IS its value set size
      if (a == "seed_tiny") assert(estA == 3L, s"seed est_a $estA")
      if (b == "seed_tiny") assert(estB == 3L, s"seed est_b $estB")
      // KMV RSE ≈ 1/√(k−2) ≈ 12.7% at k=64; gate 4σ ≈ 51% — loose
      // enough to never flip on a regenerated tier, tight enough to
      // catch a broken estimator (values are already oracle-hashed)
      def band(est: Long, ex: Long, what: String): Unit =
        if (ex > PipelineQueries.K11k)
          assert(math.abs(est - ex).toDouble / ex < 0.51, s"$what: $est vs $ex")
      band(estA, exact(a), s"$a est")
      band(estB, exact(b), s"$b est")
      band(r.getLong(idx("est_union")), r.getLong(idx("exact_union")), s"$a×$b union")
      // intersection error scales with the UNION (ρ/m has σ ≤ 1/(2√k));
      // 4σ of the Jaccard ≈ 0.25 of the union, plus estimator slack
      val union = r.getLong(idx("exact_union"))
      assert(math.abs(r.getLong(idx("est_inter")) - r.getLong(idx("exact_inter")))
        <= 0.35 * union + 2, s"$a×$b inter")
    }
  }

  test("k11: per-shard KMV sketches merge into exactly the one-pass sketch") {
    import graft.queries.PipelineQueries
    val values = PipelineQueries.k11Values(spark, dir).localCheckpoint()
    val onePass = PipelineQueries.k11Sketch(values)
      .select(col("g"), col("rk"), col("h")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    // shard by hash stripe, sketch each shard, merge = re-rank the union
    // of the per-shard min-k's (the k11s store state's exact recipe)
    val shardSketches = (0 until 3).map(s =>
      PipelineQueries.k11Sketch(values.filter(pmod(col("h"), lit(3)) === s))
        .select(col("g"), col("h")))
    val merged = PipelineQueries
      .k11Sketch(shardSketches.reduce(_ unionByName _).distinct())
      .select(col("g"), col("rk"), col("h")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(onePass == merged, "min-k of per-shard min-k's must equal one-pass min-k")
  }

  test("k11: a corpus source named like a planted seed source fails loudly, naming it") {
    import graft.queries.PipelineQueries
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-k11-seed").toString
    // the union with the seed is distinct only while the names are disjoint
    Seq((1L, "alpha beta gamma delta", "en", "web", 22L),
        (2L, "beta gamma delta epsilon", "en", "seed_tiny", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val e = intercept[IllegalArgumentException](PipelineQueries.k11Values(spark, tmp))
    assert(e.getMessage.contains("seed_tiny"), e.getMessage)
  }

  test("k12: the rollup served from day partials equals the direct sketch over " +
      "raw values, and both serving modes live at this tier") {
    import graft.queries.PipelineQueries
    import org.apache.spark.sql.expressions.Window
    val vals = PipelineQueries.k12DailyValues(
      graft.Sources.testdata(spark, dir)("events")).localCheckpoint()
    // direct total sketch from the raw value union (never built by the gate)
    val wt = Window.partitionBy(col("g")).orderBy(col("h"))
    val direct = vals.select(col("g"), col("h")).distinct()
      .withColumn("rk", row_number().over(wt))
      .filter(col("rk") <= PipelineQueries.K12k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // the gate's rollup rows re-derived: day partials → min-k of their union
    val wd = Window.partitionBy(col("g"), col("day")).orderBy(col("h"))
    val fromPartials = vals.withColumn("rk", row_number().over(wd))
      .filter(col("rk") <= PipelineQueries.K12k)
      .select(col("g"), col("h")).distinct()
      .withColumn("rk", row_number().over(wt))
      .filter(col("rk") <= PipelineQueries.K12k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(direct == fromPartials,
      "KMV merge law: min-k of the day partials must equal min-k of the raw union")
    val out = PipelineQueries.k12RollupDistinct(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(4), r.getLong(5)))
    // exact mode: an unfilled cell's estimate IS the exact count
    assert(out.exists { case (_, day, n, est, ex) =>
      day != "ALL" && n < PipelineQueries.K12k && est == ex },
      "an unfilled day cell must answer exactly")
    // estimate mode: some cell fills (n == k) at this tier
    assert(out.exists(_._3 == PipelineQueries.K12k.toLong),
      "a filled sketch must exist at sf0.001 (k chosen for this)")
    // every rollup row estimates over ≥ the busiest day (sanity, not a bound)
    out.filter(_._2 == "ALL").foreach { case (g, _, _, est, ex) =>
      assert(est > 0 && ex > 0, s"rollup row for $g must be non-degenerate")
    }
  }
}
