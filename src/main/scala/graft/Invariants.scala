package graft

import graft.queries.{CorpusPrep, PipelineQueries}
import org.apache.spark.sql.functions._

/** Tier-agnostic invariant gate for the operators whose DuckDB oracles
  * embed the all-pairs join (d6, pipe_corpus_prep) or grow quadratic
  * within cells (d7) and are therefore infeasible past sf0.01/sf0.1:
  * checks the structural properties that define them against
  * independently-computed stage outputs at ANY scale, plus
  * differently-shaped distributed recomputes (same arithmetic, different
  * physical plan) for d7/t11 — a codegen/plan-level cross-check that
  * stays parallel instead of collecting row data.
  * Prints one OK/FAIL line per property; exits 1 on any failure.
  * Usage: Invariants [sfDir]
  */
object Invariants {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Harness.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    var failures = 0
    def check(name: String)(cond: => Boolean): Unit = {
      val ok = try cond catch { case e: Throwable =>
        System.err.println(s"  [$name] threw: ${e.getMessage}"); false }
      println(f"  $name%-52s ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures += 1
    }

    // ---- d6: cluster assignment vs the pair graph ----
    val pairsJ = PipelineQueries.d2MinhashLsh(spark, sfDir)
      .select(col("a_id"), col("b_id"), col("jaccard_ppm")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairs = pairsJ.map(t => (t._1, t._2))
    val lab = PipelineQueries.d6DedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val members = lab.groupBy(_._2._1)
    check("d6: every pair's endpoints share a cluster") {
      pairs.forall { case (a, b) => lab(a)._1 == lab(b)._1 }
    }
    check("d6: canonical is the min member and a member itself") {
      members.forall { case (c, m) => m.keys.min == c && m.contains(c) }
    }
    check("d6: cluster_size equals the member count") {
      members.forall { case (_, m) => m.values.map(_._2).toSet == Set(m.size.toLong) }
    }
    // g2's oracle is d6's recursive CTE (all-pairs class) — past the
    // oracled tiers the incremental state machine is gated HERE against
    // the one-shot operator: arrival order must be invisible
    check("g2: incremental CC equals d6's one-shot assignment") {
      PipelineQueries.g2IncrementalCc(spark, sfDir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap == lab
    }
    // g2b's oracle is the same all-pairs class over the SURVIVING edges —
    // past the oracled tiers the delete + scoped-recompute machine is
    // gated here against a one-shot CC of the surviving pair set, with
    // non-vacuity pinned (the sweep must retire at least one edge)
    check("g2b: retirement CC equals one-shot CC over surviving pairs (and retires > 0)") {
      val pairs = PipelineQueries.d2MinhashLsh(spark, sfDir)
        .select(col("a_id"), col("b_id")).localCheckpoint()
      val surv = pairs.filter(
        pmod(col("a_id") + col("b_id"), lit(PipelineQueries.G2bRetireMod))
          =!= lit(PipelineQueries.G2bRetireRem))
      val retired = pairs.count() - surv.count()
      val labS = PipelineQueries.connectedComponents(surv)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sizes = labS.values.groupBy(identity).map { case (l, vs) => l -> vs.size.toLong }
      val oneShot = labS.map { case (v, l) => v -> (l, sizes(l)) }
      val inc = PipelineQueries.g2bCcRetirement(spark, sfDir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      retired > 0 && inc == oneShot
    }
    // g2c's oracle composes the same two all-pairs classes (admission
    // blockers + CC closure) over the SURVIVING docs — past the oracled
    // tiers the one-sweep doc takedown is gated here against a one-shot
    // recompute from the full pair set, with non-vacuity pinned (the
    // sweep must retire a doc that held edges, so a component actually
    // changes and at least one blocked doc re-checks)
    check("g2c: doc takedown equals one-shot admission x CC over surviving docs") {
      val M = PipelineQueries.D18RetireMod.toLong
      val R = PipelineQueries.D18RetireRem.toLong
      def survives(id: Long) = id % M != R
      val sPairs = pairs.filter { case (a, b) => survives(a) && survives(b) }
      val retiredWithEdges = pairs.exists { case (a, b) => !survives(a) || !survives(b) }
      // one-shot CC over the surviving pair set (g2b's shape)
      val survDf = PipelineQueries.d2MinhashLsh(spark, sfDir)
        .select(col("a_id"), col("b_id"))
        .filter(pmod(col("a_id"), lit(M)) =!= lit(R) &&
          pmod(col("b_id"), lit(M)) =!= lit(R))
      val labS = PipelineQueries.connectedComponents(survDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sizes = labS.values.groupBy(identity).map { case (l, vs) => l -> vs.size.toLong }
      // one-shot admission over survivors + readmission vs the full set
      val blockersOf = sPairs.groupBy(_._2)
      val blockedFull = pairs.map(_._2).toSet
      val out = PipelineQueries.g2cDocTakedown(spark, sfDir).collect().map { r =>
        (r.getLong(0), r.getBoolean(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4),
          if (r.isNullAt(5)) None else Some(r.getLong(5)),
          if (r.isNullAt(6)) None else Some(r.getLong(6)))
      }
      retiredWithEdges && out.nonEmpty && out.forall {
        case (d, admitted, nBlk, blkId, readmitted, canon, csz) =>
          val blks = blockersOf.getOrElse(d, Array.empty[(Long, Long)]).map(_._1)
          survives(d) &&
            admitted == blks.isEmpty &&
            nBlk == blks.length.toLong &&
            blkId == (if (blks.isEmpty) None else Some(blks.min)) &&
            readmitted == (blockedFull(d) && blks.isEmpty) &&
            canon == labS.get(d) &&
            csz == labS.get(d).map(sizes)
      }
    }
    // d19b/g4b's oracles are d19/g4's all-pairs class — past the oracled
    // tiers the store-maintained machines are gated frame-for-frame
    // against their one-shot engines (different machinery: three keyed
    // store tables + per-batch scoping vs a single declarative pass)
    check("d19b: incremental election equals the one-shot canonical pick") {
      val one = PipelineQueries.d19CanonicalPick(spark, sfDir)
      val inc = PipelineQueries.d19bIncrementalCanonical(spark, sfDir)
      inc.count() > 0 && inc.exceptAll(one).isEmpty && one.exceptAll(inc).isEmpty
    }
    check("g4b: maintained triangle counts equal the one-shot audit") {
      val one = PipelineQueries.g4Triangles(spark, sfDir)
      val inc = PipelineQueries.g4bIncrementalTriangles(spark, sfDir)
      inc.count() > 0 && inc.exceptAll(one).isEmpty && one.exceptAll(inc).isEmpty
    }
    // d19c's oracle is the same class over the SURVIVING pairs — build
    // the one-shot surviving election from first principles (CC over the
    // filtered pair set × the t19 formula × a window argmax) and gate
    // the takedown machine against it, with non-vacuity pinned
    check("d19c: takedown re-election equals one-shot election over surviving pairs") {
      val M = PipelineQueries.D18RetireMod.toLong
      val R = PipelineQueries.D18RetireRem.toLong
      val pairs = PipelineQueries.d2MinhashLsh(spark, sfDir)
        .select(col("a_id"), col("b_id")).localCheckpoint()
      val surv = pairs.filter(
        pmod(col("a_id"), lit(M)) =!= lit(R) && pmod(col("b_id"), lit(M)) =!= lit(R))
      val retired = pairs.count() - surv.count()
      val lab = PipelineQueries.connectedComponents(surv).toDF("doc_id", "component_id")
        .localCheckpoint()
      val sizes = lab.groupBy(col("component_id")).agg(count(lit(1)).as("cluster_size"))
      val scored = PipelineQueries.t19Scored(
          lab.join(graft.Sources.testdata(spark, sfDir)("documents"), "doc_id"))
        .select(col("doc_id"), col("component_id"), col("logit6"))
        .localCheckpoint()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component_id")).orderBy(col("logit6").desc, col("doc_id"))
      val best = scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("component_id"), col("doc_id").as("canonical_doc"),
          col("logit6").as("canonical_logit6"))
      val oneShot = scored.join(best, "component_id").join(sizes, "component_id")
        .withColumn("keep", col("doc_id") === col("canonical_doc"))
        .select(col("doc_id"), col("component_id"), col("cluster_size"),
          col("logit6"), col("canonical_doc"), col("canonical_logit6"), col("keep"))
      val inc = PipelineQueries.d19cTakedownReelection(spark, sfDir)
      retired > 0 && inc.count() > 0 &&
        inc.exceptAll(oneShot).isEmpty && oneShot.exceptAll(inc).isEmpty
    }

    // ---- d11: containment vs d2 (its oracle embeds the all-pairs join,
    // so past sf0.01 the asymmetric-dedup guarantees are gated here) ----
    {
      val d11 = PipelineQueries.d11Containment(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      check("d11: containment values lie in [0.8, 1] (exact ppm)") {
        d11.values.forall(c => c >= 800000L && c <= 1000000L)
      }
      // C(A,B) = |A∩B|/|A| >= |A∩B|/|A∪B| = J, so every strong symmetric
      // near-dup MUST contain in both directions — an independent
      // cross-operator identity, checkable at any tier without the
      // all-pairs oracle
      check("d11: d2 pairs at J >= 0.8 contain in both directions") {
        pairsJ.filter(_._3 >= 800000L).forall { case (a, b, _) =>
          d11.contains((a, b)) && d11.contains((b, a))
        }
      }
    }

    // ---- v14: range search vs the v1 exact baseline ----
    // (its oracle is the naive all-pairs scan, so past that scan's
    // practical tier the completeness guarantee is gated here: every v1
    // top-k hit at or above τ is by definition a range match — a missing
    // one means the angular cell prune dropped a cell it must not have)
    {
      val v14 = PipelineQueries.v14RangeSearch(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val v1Hits = PipelineQueries.v1CosineTopk(spark, sfDir)
        .filter(col("cos_e6") >= 300000L)
        .select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      check("v14: contains every v1 top-k hit at or above the threshold") {
        v1Hits.subsetOf(v14)
      }
    }

    // ---- t21: cluster-aware split vs the pair graph ----
    // (oracle embeds the same all-pairs closure as d6, so past sf0.01 the
    // leakage guarantee is gated here instead)
    {
      val t21 = PipelineQueries.t21SplitLeakfree(spark, sfDir).cache()
      val splitOf = t21.select(col("doc_id"), col("split")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      check("t21: no near-dup pair straddles a split boundary") {
        pairs.forall { case (a, b) => splitOf(a) == splitOf(b) }
      }
      check("t21: every document is assigned exactly one split") {
        val n = Sources.testdata(spark, sfDir)("documents").count()
        t21.count() == n &&
          t21.select(countDistinct(col("doc_id"))).head.getLong(0) == n
      }
      check("t21: split label always matches the bucket arithmetic") {
        import graft.queries.PipelineQueries.{T21TrainPct, T21ValPct}
        t21.filter(
          (col("bucket") < T21TrainPct && col("split") =!= "train") ||
          (col("bucket") >= T21TrainPct && col("bucket") < T21ValPct
            && col("split") =!= "valid") ||
          (col("bucket") >= T21ValPct && col("split") =!= "test")).isEmpty
      }
      t21.unpersist()
    }

    // ---- pipe: composition vs standalone stages ----
    val out = CorpusPrep.pipeCorpusPrep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4)))
    val survivors = out.map(_._1).distinct.toSet
    val nonCanonical = lab.filter { case (d, (c, _)) => d != c }.keySet
    val contaminated = PipelineQueries.t8Decontaminate(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    check("pipe: emits at least one chunk")(out.nonEmpty)
    check("pipe: no dedup loser is chunked")(survivors.intersect(nonCanonical).isEmpty)
    check("pipe: no contaminated doc is chunked")(survivors.intersect(contaminated).isEmpty)
    check("pipe: no eval-slice doc is chunked") {
      survivors.forall(_ % PipelineQueries.DecontMod != 0)
    }
    check("pipe: chunk digests equal the standalone chunker's") {
      val t5 = PipelineQueries.t5Chunk(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(3)).toMap
      out.forall { case (doc, idx, _, md5v, _) => t5((doc, idx)) == md5v }
    }
    check("pipe: shard ids advance by at most one per chunk") {
      val shards = out.sortBy(c => (c._1, c._2)).map(_._5)
      shards.zip(shards.tail).forall { case (a, b) => b == a || b == a + 1 }
    }
    check("pipe: no shard but the last exceeds budget + one chunk") {
      out.groupBy(_._5).view.mapValues(_.map(_._3.toLong).sum)
        .toSeq.sortBy(_._1).dropRight(1)
        .forall(_._2 <= PipelineQueries.ShardBudget + PipelineQueries.ChunkSize)
    }

    // ---- d7: semantic dedup vs a differently-shaped recompute ----
    // Same arithmetic (vector_dot per literal centroid, rounded cosine,
    // min-id rule) but a different plan: cells via posexplode + min_by
    // argmax instead of array_position(array_max), duplicates via an
    // inner join + distinct instead of the left-semi. Set equality is
    // asserted with except() — fully distributed, nothing collected.
    {
      import graft.queries.PipelineQueries.{IvfCells, IvfCentroids, IvfHalfSq, SemThresh}
      graft.functions.GraftFunctions.ensureRegistered(spark)
      val d7 = PipelineQueries.d7Semdedup(spark, sfDir).cache()
      def sqlD(d: Double) = BigDecimal(d).bigDecimal.toPlainString
      val centArr = IvfCentroids.map(_.map(sqlD).mkString("array(", ",", ")"))
        .mkString("array(", ",", ")")
      val hsArr = IvfHalfSq.map(sqlD).mkString("array(", ",", ")")
      val alt = Sources.testdata(spark, sfDir)("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
        .withColumn("nrm", expr("sqrt(vector_dot(v, v))"))
        .select(col("vec_id"), col("v"), col("nrm"), posexplode(expr(
          s"transform(sequence(0, ${IvfCells - 1}), k ->" +
            s" vector_dot(v, cast($centArr[k] as array<double>)) - cast($hsArr[k] as double))")))
        .toDF("vec_id", "v", "nrm", "k", "score")
        .groupBy(col("vec_id"))
        .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"),
          min_by(col("k") + 1, struct(negate(col("score")), col("k"))).as("cell"))
        .localCheckpoint()
      check("d7: cell assignment survives a posexplode/min_by re-plan") {
        d7.select(col("vec_id"), col("cell").cast("long").as("cell"))
          .except(alt.select(col("vec_id"), col("cell"))).isEmpty
      }
      val altDup = alt.as("x").join(alt.as("y"),
          col("x.cell") === col("y.cell") && col("y.vec_id") < col("x.vec_id") &&
            col("x.nrm") > 0 && col("y.nrm") > 0)
        .where(floor((expr("vector_dot(x.v, y.v)") / (col("x.nrm") * col("y.nrm")))
            * lit(1e6) + lit(0.5)) >= lit((SemThresh * 1e6).toLong))
        .select(col("x.vec_id").as("vec_id")).distinct()
      check("d7: duplicate set survives an inner-join/distinct re-plan") {
        val got = d7.filter(col("is_dup") === 1).select(col("vec_id"))
        got.except(altDup).isEmpty && altDup.except(got).isEmpty
      }
      check("d7: one row per vector, cells within range") {
        val n = Sources.testdata(spark, sfDir)("embeddings").count()
        d7.count() == n && d7.select(countDistinct(col("vec_id"))).head.getLong(0) == n &&
          d7.filter(col("cell") < 1 || col("cell") > IvfCells).isEmpty
      }
      d7.unpersist()
    }

    // ---- t11: repetition signals vs a differently-shaped recompute ----
    // Words/distinct via explode + countDistinct (vs array_distinct);
    // the top-bigram numerator via a rank window over the per-gram
    // counts (vs the two-level max agg).
    {
      import graft.queries.PipelineQueries.RepGram
      val t11 = PipelineQueries.t11Repetition(spark, sfDir).cache()
      val docs = Sources.testdata(spark, sfDir)("documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      val wordAlt = docs.select(col("doc_id"), explode(col("w")).as("x"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"), countDistinct(col("x")).as("nd"))
        .select(col("doc_id"),
          expr("cast(n - nd as bigint) * 1000000 div n").as("dup_word_ppm"))
      check("t11: dup_word_ppm survives an explode/countDistinct re-plan") {
        t11.select(col("doc_id"), col("dup_word_ppm")).except(wordAlt).isEmpty
      }
      val biCounts = docs.filter(size(col("w")) >= 2)
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(0), size(col("w")) - 2)).as("i"))
        .select(col("doc_id"), concat_ws(" ", col("w")(col("i")), col("w")(col("i") + 1)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      val biAlt = biCounts
        .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("c").desc, col("g"))))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("tot"), max(when(col("rk") === 1, col("c"))).as("top"))
        .select(col("doc_id"),
          expr("top * 1000000 div tot").as("top_bigram_ppm"))
      check("t11: top_bigram_ppm survives a rank-window re-plan over gram strings") {
        t11.filter(col("top_bigram_ppm").isNotNull)
          .select(col("doc_id"), col("top_bigram_ppm")).except(biAlt).isEmpty
      }
      check("t11: one row per document; 3-gram fraction null iff words < RepGram") {
        val short = docs.filter(size(col("w")) < RepGram).select("doc_id")
        t11.count() == docs.count() &&
          t11.filter(col("dup_3gram_ppm").isNull).select("doc_id")
            .except(short).isEmpty &&
          short.except(t11.filter(col("dup_3gram_ppm").isNull).select("doc_id")).isEmpty
      }
      t11.unpersist()
    }

    // ---- v15/v16: the persisted ANN index vs the store-free rebuild ----
    // The independence is store-vs-recompute: one side reads parquet
    // snapshots through the manifest (after merges, a row-level DELETE and
    // an OPTIMIZE rewrite), the other never touches disk. At rehearsal
    // tiers this replaces the DuckDB oracle (whose IVF-PQ SQL is priced
    // for driver scales); set equality via except() stays distributed.
    {
      val v7 = PipelineQueries.v7IvfPq(spark, sfDir).localCheckpoint()
      val v15 = PipelineQueries.v15PersistedIvfpq(spark, sfDir).localCheckpoint()
      check("v15: persisted-index serving equals the per-query rebuild") {
        v15.except(v7).isEmpty && v7.except(v15).isEmpty
      }
      val rebuilt = PipelineQueries.ivfpqRebuild(spark, sfDir,
        pmod(col("vec_id"), lit(7)) =!= 6).localCheckpoint()
      val v16 = PipelineQueries.v16IndexMaintenance(spark, sfDir).localCheckpoint()
      check("v16: serving after DELETE+OPTIMIZE equals the survivor rebuild") {
        v16.except(rebuilt).isEmpty && rebuilt.except(v16).isEmpty
      }
      check("v16: no retired vector is ever served") {
        v16.filter(pmod(col("vec_id"), lit(7)) === 6).isEmpty
      }
    }

    // ---- d13: the dedup-recall eval vs independently re-derived counts ----
    // d13's DuckDB oracle embeds d2's all-pairs SQL, priced for driver
    // scales; above them this block re-derives all three counts through
    // DIFFERENT plans (bucket collect + in-bucket pair explosion instead
    // of the band self-join; d2's pair frame as the exact side, itself
    // tier-gated by the d6/d11 blocks above) and re-checks the ppm
    // arithmetic — plus the banding GUARANTEE: a pair within Hamming
    // distance < SimBands shares at least one untouched band, so every
    // such exact pair MUST be a candidate (pigeonhole, not probability).
    {
      import graft.queries.PipelineQueries.{SimBandBits, SimBands}
      val row = PipelineQueries.d13DedupEval(spark, sfDir).head
      val sh = PipelineQueries.d3Simhash(spark, sfDir)
        .select(col("doc_id"), col("simhash")).localCheckpoint()
      val mask = (1L << SimBandBits) - 1
      val bands = sh.select(col("doc_id"), explode(expr(
        s"transform(sequence(0, ${SimBands - 1}), b -> " +
          s"struct(b AS band, shiftright(simhash, b * $SimBandBits) & $mask AS v))")).as("x"))
        .select(col("doc_id"), col("x.band").as("band"), col("x.v").as("v"))
      val candAlt = bands.groupBy(col("band"), col("v"))
        .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(explode(expr(
          "flatten(transform(ids, (x, i) -> " +
            "transform(slice(ids, i + 2, size(ids)), y -> " +
            "struct(x AS a_id, y AS b_id))))")).as("p"))
        .select(col("p.a_id"), col("p.b_id")).distinct().localCheckpoint()
      val exact = PipelineQueries.d2MinhashLsh(spark, sfDir)
        .select(col("a_id"), col("b_id")).localCheckpoint()
      val nCand = candAlt.count()
      val nExact = exact.count()
      val nHit = candAlt.join(exact, Seq("a_id", "b_id")).count()
      check("d13: counts equal the bucket-exploded re-derivation") {
        row.getLong(0) == nCand && row.getLong(1) == nExact && row.getLong(2) == nHit
      }
      check("d13: precision/recall ppm arithmetic recomputes") {
        (nCand == 0 || row.getLong(3) == nHit * 1000000L / nCand) &&
          (nExact == 0 || row.getLong(4) == nHit * 1000000L / nExact)
      }
      check("d13: every exact pair within Hamming < bands is a candidate") {
        val shA = sh.select(col("doc_id").as("a_id"), col("simhash").as("sa"))
        val shB = sh.select(col("doc_id").as("b_id"), col("simhash").as("sb"))
        exact.join(shA, "a_id").join(shB, "b_id")
          .filter(expr(s"bit_count(sa ^ sb) < $SimBands"))
          .join(candAlt, Seq("a_id", "b_id"), "left_anti").isEmpty
      }
    }

    // ---- k5: the funnel vs the standalone operators' own outputs ----
    // k5's DuckDB oracle embeds d6's all-pairs SQL; above driver scales
    // this block recomputes every funnel count by COMPOSING the gated
    // standalone operators (d6 clusters, t8 contamination pairs, t1
    // quality scores, t6's sample membership) plus an independent SQL
    // re-derivation of the survivor-scoped mixture stage — the funnel is
    // the pipeline's bookkeeping, so its counts must be reproducible
    // from the pipeline's own parts.
    {
      import graft.queries.PipelineQueries.{DecontMod, MixShareDefault, MixSharePermille}
      val row = PipelineQueries.k5CurationFunnel(spark, sfDir).head
      val docs = Sources.testdata(spark, sfDir)("documents")
      val train = docs.filter(pmod(col("doc_id"), lit(DecontMod)) =!= 0)
        .select(col("doc_id"), col("source"), col("n_chars")).localCheckpoint()
      val nonCanon = PipelineQueries.d6DedupClusters(spark, sfDir)
        .filter(col("doc_id") =!= col("canonical_id")).select("doc_id")
      val afterDedup = train.join(nonCanon, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val contaminated = PipelineQueries.t8Decontaminate(spark, sfDir)
        .select(col("train_id").as("doc_id")).distinct()
      val afterDecont = afterDedup.join(contaminated, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val qualityOk = PipelineQueries.t1TextStats(spark, sfDir)
        .filter(col("quality_ppm") >= graft.queries.CorpusPrep.QualityMinPpm)
        .select("doc_id")
      val afterQuality = afterDecont.join(qualityOk, Seq("doc_id"), "left_semi")
        .localCheckpoint()
      val sampled = PipelineQueries.t6SampleStratified(spark, sfDir).select("doc_id")
      val afterSample = afterQuality.join(sampled, Seq("doc_id"), "left_semi")
        .localCheckpoint()
      check("k5: gate counts recompose from d6/t8/t1/t6 outputs") {
        row.getLong(0) == docs.count() && row.getLong(1) == train.count() &&
          row.getLong(2) == afterDedup.count() &&
          row.getLong(3) == afterDecont.count() &&
          row.getLong(4) == afterQuality.count() &&
          row.getLong(5) == afterSample.count()
      }
      check("k5: the survivor-scoped mixture count re-derives via SQL") {
        afterSample.createOrReplaceTempView("k5_survivors")
        val shareCase = MixSharePermille.map { case (s, r) =>
          s"WHEN source = '$s' THEN ${r}L" }.mkString(" ")
        spark.sql(
          s"""WITH s AS (SELECT doc_id, source,
             |             cast(ceil(n_chars / 4.0d) as bigint) AS est_tokens
             |           FROM k5_survivors),
             |agg AS (SELECT source, sum(est_tokens) AS src_tokens,
             |               CASE $shareCase ELSE ${MixShareDefault}L END AS share_pm
             |        FROM s GROUP BY source),
             |b AS (SELECT min(src_tokens * 1000 div share_pm) AS budget FROM agg),
             |r AS (SELECT source,
             |             least(1000L, budget * share_pm div src_tokens) AS keep_pm
             |      FROM agg CROSS JOIN b)
             |SELECT count(*) AS n FROM s JOIN r USING (source)
             |WHERE pmod(cast(conv(substring(md5(concat('mix:',
             |        cast(doc_id as string))), 1, 15), 16, 10) as bigint), 1000)
             |      < keep_pm""".stripMargin)
          .head.getLong(0) == row.getLong(6)
      }
    }

    // ---- d15: incremental admission ≡ one-shot dedup-against-seen ----
    // (its DuckDB oracle embeds the all-pairs join, so past sf0.1 the
    // store-backed incremental path is gated HERE against the one-shot
    // d2 pair list — a pure-Spark except-equivalence, no row collect)
    {
      val oneShot = PipelineQueries.d2MinhashLsh(spark, sfDir)
        .groupBy(col("b_id").as("doc_id"))
        .agg(min(col("a_id")).as("blocker_id"),
          count(lit(1)).cast("long").as("n_blockers"))
        .localCheckpoint()
      val d15 = PipelineQueries.d15IncrementalNeardup(spark, sfDir)
        .localCheckpoint()
      // batch is recomputed HERE from doc_id + the documents count (the
      // engine's tercile formula, PipelineQueries d15), never echoed from
      // d15's own output — at the tiers where the DuckDB oracle doesn't
      // run, a drifting inBatch assignment must red this gate, not pass
      // as self-consistent
      val nDocs = math.max(
        spark.read.parquet(s"$sfDir/documents.parquet").count(), 1L)
      val nB = PipelineQueries.D15Batches
      val expected = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"),
          expr(s"cast(least(${nB - 1}, doc_id * $nB div $nDocs) as int)")
            .as("batch"))
        .join(oneShot, Seq("doc_id"), "left")
        .select(col("doc_id"), col("batch"),
          col("blocker_id").isNull.as("admitted"),
          coalesce(col("n_blockers"), lit(0L)).as("n_blockers"),
          col("blocker_id"))
      check("d15: equals the one-shot dedup-against-seen (except-empty both ways)") {
        d15.except(expected).isEmpty && expected.except(d15).isEmpty
      }
    }

    // ---- d18: delete-aware admission ≡ declarative recompute over survivors
    // (same reason as d15: the DuckDB oracle embeds the all-pairs join,
    // so past sf0.1 the delete+readmit protocol is gated HERE against
    // the one-shot d2 pair list — pure-Spark except-equivalence)
    {
      val mod = PipelineQueries.D18RetireMod
      val rem = PipelineQueries.D18RetireRem
      val pairs = PipelineQueries.d2MinhashLsh(spark, sfDir)
        .select(col("a_id"), col("b_id")).localCheckpoint()
      val d18 = PipelineQueries.d18DeleteReadmission(spark, sfDir)
        .localCheckpoint()
      val blkS = pairs
        .filter(pmod(col("a_id"), lit(mod)) =!= rem &&
          pmod(col("b_id"), lit(mod)) =!= rem)
        .groupBy(col("b_id").as("doc_id"))
        .agg(min(col("a_id")).as("blocker_id"),
          count(lit(1)).cast("long").as("nb"))
      val blkF = pairs.select(col("b_id").as("doc_id"))
        .distinct().withColumn("was_blocked", lit(true))
      val expected = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(mod)) =!= rem)
        .join(blkS, Seq("doc_id"), "left")
        .join(blkF, Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("blocker_id").isNull.as("admitted"),
          coalesce(col("nb"), lit(0L)).as("n_blockers"),
          col("blocker_id"),
          (coalesce(col("was_blocked"), lit(false)) &&
            col("blocker_id").isNull).as("readmitted"))
      check("d18: equals declarative recompute over survivors (except-empty both ways)") {
        d18.except(expected).isEmpty && expected.except(d18).isEmpty
      }
      check("d18: the retirement actually un-blocks docs (non-vacuous)") {
        d18.filter(col("readmitted")).limit(1).count() > 0
      }
    }

    // ---- d16: the cut recomposes from d8's measures ----
    {
      val d16 = PipelineQueries.d16SubstringCut(spark, sfDir).localCheckpoint()
      val d8 = PipelineQueries.d8SubstringDedup(spark, sfDir)
        .select(col("doc_id"), col("dup_tokens"))
      check("d16: cut_tokens equals d8's dup_tokens on affected docs, 0 elsewhere") {
        d16.join(d8, Seq("doc_id"), "left")
          .filter(col("cut_tokens") =!= coalesce(col("dup_tokens"), lit(0L)))
          .isEmpty
      }
      check("d16: untouched docs keep their full canonical text's md5") {
        val docsCanon = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"),
            md5(concat_ws(" ", split(lower(col("text")), " "))).as("canon_md5"))
        d16.filter(col("cut_tokens") === 0L)
          .join(docsCanon, Seq("doc_id"))
          .filter(col("kept_md5") =!= col("canon_md5"))
          .isEmpty
      }
    }

    // ---- d17: retroactive incremental cut converges to the one-shot ----
    check("d17: incremental cut equals d16's one-shot report (except-empty both ways)") {
      val inc = PipelineQueries.d17IncrementalCut(spark, sfDir).localCheckpoint()
      val one = PipelineQueries.d16SubstringCut(spark, sfDir).localCheckpoint()
      inc.except(one).isEmpty && one.except(inc).isEmpty
    }

    // ---- k7: Count-Min never undercounts at any tier ----
    check("k7: cm_est >= exact count on every reported heavy hitter") {
      val rows = PipelineQueries.k7CountMin(spark, sfDir).collect()
      rows.length == PipelineQueries.CmTopK &&
        rows.forall(r => r.getLong(3) >= r.getLong(2))
    }

    // ---- v19: rerank scores re-derive via a differently-shaped cosine ----
    check("v19: emitted cos_e6 matches an independent HOF recompute; ham in [0,64]") {
      val v19 = PipelineQueries.v19BinaryAnn(spark, sfDir).localCheckpoint()
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
        .selectExpr("vec_id",
          "v", "sqrt(aggregate(v, 0D, (a, x) -> a + x * x)) AS nrm")
      val re = v19
        .join(e.select(col("vec_id"), col("v").as("dv"), col("nrm").as("dn")), "vec_id")
        .join(e.select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")), "q_id")
        .withColumn("cos2",
          floor(expr("aggregate(zip_with(dv, qv, (x, y) -> x * y), 0D, (a, x) -> a + x)")
            / (col("dn") * col("qn")) * lit(1e6) + lit(0.5)))
      re.filter(col("cos2") =!= col("cos_e6") ||
        col("ham") < 0 || col("ham") > 64).isEmpty &&
        !v19.isEmpty
    }

    // ---- k9: the quantile sketch's structural guarantees at ANY tier ----
    // (the oracle is cheap everywhere, but the ±62 500 ppm bound is the
    // property that must HOLD at every tier — pin it beyond the oracled
    // scales alongside the other sketches)
    check("k9: every quantile estimate within ±62500 ppm of the exact rank value") {
      val rows = PipelineQueries.k9DdQuantiles(spark, sfDir).collect()
      rows.nonEmpty && rows.forall(r => math.abs(r.getLong(4)) <= 62500L)
    }

    // ---- d14c: the capped expansion is genuinely replication-flat ----
    // (its whole reason to exist: cross-name pairs expand at most cap²
    // per VERIFIED NAME PAIR and same-name pairs at most C(cap,2) per
    // distinct name — neither term grows when a tier replicates names,
    // so the bound is computed from replication-invariant quantities)
    check("d14c: output ≤ cap²·|name pairs| + C(cap,2)·|distinct names|") {
      val nNames = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_name")).distinct().count()
      val nPairs = PipelineQueries.d14bFuzzyJoinK2(spark, sfDir).count()
      val cap = PipelineQueries.D14cCap.toLong
      val bound = cap * cap * nPairs + cap * (cap - 1) / 2 * nNames
      PipelineQueries.d14cFuzzyExpand(spark, sfDir).count() <= bound
    }

    // ---- v27: residual serving diverges from raw-PQ serving and every
    // candidate comes from a probed cell (the residual oracle is a full
    // double retrain — feasible at the driver tiers, gated structurally
    // beyond them like v14/d7) ----
    check("v27: ranked rows differ from v22 (non-vacuous) and candidates respect probes") {
      val res = PipelineQueries.v27ResidualPq(spark, sfDir).localCheckpoint()
      val raw = PipelineQueries.v22TrainedIvfServe(spark, sfDir)
      val perQ = res.groupBy(col("q_id")).count().collect()
      // EXPLICIT probe membership: every served row's cell must be one of
      // its query's probed cells (not just implied by the join shape)
      val probes = PipelineQueries.v27ProbeCells(spark, sfDir)
      val offProbe = res.select(col("q_id"), col("cell"))
        .join(probes, Seq("q_id", "cell"), "left_anti").count()
      res.count() == raw.count() &&
        res.exceptAll(raw).count() > 0 &&
        perQ.forall(_.getLong(1) == 5L) &&
        offProbe == 0L
    }

    // ---- v29: the converged-coarse residual composition must diverge
    // from the 1-step residual serve (convergence is non-vacuous) while
    // keeping the serve contract (5 rows per query; its oracle is the
    // full-chain retrain, all-pairs-free but Lloyd-heavy — structural
    // gate past the driver tiers like v27) ----
    check("v29: differs from v28 (converged coarse matters) and serves 5 per query") {
      val conv = PipelineQueries.v29ConvergedResidual(spark, sfDir).localCheckpoint()
      val oneStep = PipelineQueries.v28PersistedResidual(spark, sfDir)
      val perQ = conv.groupBy(col("q_id")).count().collect()
      conv.count() == oneStep.count() &&
        conv.exceptAll(oneStep).count() > 0 &&
        perQ.forall(_.getLong(1) == 5L)
    }

    // ---- k11: KMV set algebra holds at any tier (the estimator bands
    // are the property; values are oracle-hashed at the driver scales) --
    check("k11: seed exact mode, union estimates in the 4σ band, intersection bounded") {
      val rows = PipelineQueries.k11ThetaSketch(spark, sfDir).collect()
      val k = PipelineQueries.K11k
      rows.nonEmpty && rows.forall { r =>
        val (a, b) = (r.getString(0), r.getString(1))
        val (estA, estB) = (r.getLong(3), r.getLong(4))
        val (estU, estI) = (r.getLong(5), r.getLong(6))
        val (exU, exI) = (r.getLong(8), r.getLong(9))
        (a != "seed_tiny" || estA == 3L) && (b != "seed_tiny" || estB == 3L) &&
          (exU <= k || math.abs(estU - exU).toDouble / exU < 0.51) &&
          math.abs(estI - exI) <= 0.35 * exU + 2
      }
    }

    // ---- g4: the rank-oriented triangle count equals a naive x<y<z
    // three-way recount (different algorithm, computed distributed — the
    // DuckDB oracle embeds the all-pairs join, so THIS gates g4 past the
    // driver tiers) ----
    check("g4: rank-oriented counts equal the naive three-way join recount") {
      val pairs = PipelineQueries.d2MinhashLsh(spark, sfDir)
        .select(col("a_id"), col("b_id")).localCheckpoint()
      val tri = pairs.as("p1")
        .join(pairs.as("p2"), col("p1.b_id") === col("p2.a_id"))
        .join(pairs.as("p3"),
          col("p3.a_id") === col("p1.a_id") && col("p3.b_id") === col("p2.b_id"))
        .select(col("p1.a_id").as("x"), col("p1.b_id").as("y"), col("p2.b_id").as("z"))
      val cnt = tri.select(explode(array(col("x"), col("y"), col("z"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("tri_cnt"))
      val deg = pairs.select(col("a_id").as("v"))
        .unionByName(pairs.select(col("b_id").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("degree"))
      val exp = deg.join(cnt, Seq("v"), "left")
        .select(col("v").as("doc_id"), col("degree"),
          coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
      val got = PipelineQueries.g4Triangles(spark, sfDir)
        .select(col("doc_id"), col("degree"), col("tri_cnt"))
      got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty
    }

    // ---- d19: election invariants from the output alone + d6 membership
    // (the oracle embeds the all-pairs join; this holds at any tier) ----
    check("d19: one keeper per component, canonical is the max-logit member, membership = d6") {
      val d19 = PipelineQueries.d19CanonicalPick(spark, sfDir).localCheckpoint()
      val d6 = PipelineQueries.d6DedupClusters(spark, sfDir)
      val memberMismatch = d19.select(col("doc_id"), col("component_id"), col("cluster_size"))
        .exceptAll(d6.select(col("doc_id"), col("canonical_id"), col("cluster_size"))).count()
      val keepers = d19.groupBy(col("component_id"))
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("nk")).collect()
      // no member outranks its canonical; the canonical is a member
      val outranked = d19.filter(
        col("logit6") > col("canonical_logit6") ||
          (col("logit6") === col("canonical_logit6") &&
            col("doc_id") < col("canonical_doc"))).count()
      val canonNotMember = d19.filter(col("keep"))
        .select(col("doc_id"), col("component_id"))
        .exceptAll(d19.filter(col("doc_id") === col("canonical_doc"))
          .select(col("canonical_doc"), col("component_id"))).count()
      memberMismatch == 0 && keepers.forall(_.getLong(1) == 1L) &&
        outranked == 0 && canonNotMember == 0
    }

    // ---- v30: trained-SQ serving respects the exact ranking it
    // approximates: its final top-10 comes from cosine-reranking a
    // 20-candidate ADC shortlist, so the top-1 BY COSINE within the
    // emitted rows must head each query's list, and the shortlist must
    // overlap the exact cosine top-10 (recall floor — SQ8 on 64 dims is
    // near-lossless; the floor catches a broken encoder, not noise) ----
    check("v30: per-query rank order is cosine-consistent and recall@10 ≥ 0.5 vs v1") {
      val sq = PipelineQueries.v30TrainedSq(spark, sfDir).collect()
      val v1 = PipelineQueries.v1CosineTopk(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
        .map { case (q, xs) => q -> xs.map(_._2).toSet }
      val byQ = sq.groupBy(_.getLong(0))
      byQ.forall { case (q, rows) =>
        val sorted = rows.sortBy(r => r.getInt(1))
        val cosOrdered = sorted.sliding(2).forall {
          case Array(a, b) =>
            a.getLong(4) > b.getLong(4) ||
              (a.getLong(4) == b.getLong(4) && a.getLong(2) < b.getLong(2))
          case _ => true
        }
        val recall = sorted.map(_.getLong(2)).toSet
          .intersect(v1.getOrElse(q, Set.empty)).size
        cosOrdered && recall >= 5
      }
    }

    println(s"${if (failures == 0) "PASS" else "FAIL"} ($failures failures) at $sfDir")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
