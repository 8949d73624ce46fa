package graft.queries

import graft.Sources
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data-pipeline operators over the driver's `documents` /
  * `embeddings` tables (builder brief; SURVEY.md §7.6 north star):
  * deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine, cluster assignment, SemDeDup-style semantic),
  * similarity search (brute-force cosine top-k, sign-LSH and IVF ANN,
  * int8-quantized ranking), clustering (deterministic distributed Lloyd
  * k-means — the primitive behind semantic curation), text analysis
  * (stats/quality, language-ID
  * heuristic, regex token counting, fingerprinting, TF-IDF keywords,
  * boilerplate ratio, repetition signals), corpus construction (token chunking,
  * stratified sampling, data-mixture rebalancing, token-budget shard
  * packing, test-set decontamination — composed end-to-end in
  * [[CorpusPrep]]) and multimodal binary-column plumbing.
  *
  * Every operator is expressed with codegen'd built-ins / higher-order
  * functions (no UDFs except the explicitly-stubbed multimodal decode,
  * which is genuine per-partition imperative logic). All randomized
  * components (MinHash coefficients, LSH hyperplanes) are deterministic
  * literals so the paired DuckDB oracles compute bit-identical values.
  *
  * Scale notes (100 TB):
  *  - near-dup is banded LSH (shingle → signature → band bucket →
  *    bucket-equi-join), never an all-pairs cross join; the exact-Jaccard
  *    verify touches only LSH candidates.
  *  - ANN buckets by sign-LSH so each query probes one bucket;
  *    brute-force top-k exists as the correctness baseline.
  *  - all per-doc stats are narrow map-side projections (no shuffle);
  *    dedup/fingerprint group-bys shuffle on a 64-256 bit digest — uniform
  *    keys, no skew.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Sources.testdata(spark, dir)(name)

  /** Round-robin repartition to full parallelism ahead of CPU-dense per-row
    * stages (shingling lambdas, hyperplane projections, per-window hashing).
    *
    * Parquet can only split at row-group boundaries, so a corpus delivered
    * as a few single-row-group files caps those stages at #files tasks no
    * matter the cluster size. The row shuffle is trivial next to the per-row
    * CPU it unlocks; on a cluster whose scan already yields thousands of
    * splits AQE coalesces it away rather than letting it hurt. */
  private[queries] def fanOut(spark: SparkSession, df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism)

  /** Build two INDEPENDENT eager subtrees concurrently (guide §2.6
    * "overlap independent jobs"): Spark's scheduler runs jobs from
    * several driver threads side by side, so two training/checkpoint
    * chains with no data dependency need not serialize their barriers.
    * Used where both arguments run eager actions (localCheckpoint /
    * collect) at build time.
    *
    * Failures are loud and contained: `b` runs in its own job group, so
    * when `a` throws, `b`'s jobs are cancelled (again until `b` returns,
    * covering a job `b` starts after the first cancel) and `b` is awaited
    * before `a`'s exception is rethrown. A task the scheduler launches
    * just after its job was cancelled escapes that kill, so a listener
    * scoped to the call tracks the running tasks of `b`'s stages, and the
    * rethrow also waits (bounded, 30 s) until none is left, killing each
    * stray attempt — nothing of this call keeps running behind the
    * caller. A failure of `b` alone rethrows from the Await. */
  private[graft] def inParallel[A, B](spark: SparkSession, a: => A, b: => B): (A, B) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted,
      SparkListenerTaskEnd, SparkListenerTaskStart}
    import scala.concurrent.{blocking, Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val sc = spark.sparkContext
    val group = s"graft-inParallel-${java.util.UUID.randomUUID}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val running = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    @volatile var lastEvent = System.nanoTime()
    val tracker = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          stages.add(e.stageInfo.stageId)
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (stages.contains(e.stageId)) {
          running.add(e.taskInfo.taskId)
          lastEvent = System.nanoTime()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (running.remove(e.taskInfo.taskId)) lastEvent = System.nanoTime()
    }
    sc.addSparkListener(tracker)
    try {
      val fb = Future(blocking {
        sc.setJobGroup(group, "inParallel: second branch", interruptOnCancel = true)
        try b finally sc.clearJobGroup()
      })
      val ra = try a catch { case e: Throwable =>
        while (!fb.isCompleted) {
          sc.cancelJobGroup(group)
          scala.util.Try(Await.ready(fb, 50.millis))
        }
        // listener events arrive asynchronously: done once no task of b
        // runs and none has started or ended for 500 ms
        val deadline = System.nanoTime() + 30.seconds.toNanos
        while ((!running.isEmpty || System.nanoTime() - lastEvent < 500.millis.toNanos) &&
            System.nanoTime() < deadline) {
          running.forEach(id =>
            sc.killTaskAttempt(id, interruptThread = true, "inParallel: sibling branch failed"))
          Thread.sleep(50)
        }
        throw e
      }
      (ra, Await.result(fb, Duration.Inf))
    } finally sc.removeSparkListener(tracker)
  }

  // ---- deterministic pseudo-random literals (shared with the oracles) ----

  /** 64-bit LCG stream (Knuth MMIX constants), top-33-bit outputs. */
  private def lcg(seed: Long, n: Int): Seq[Long] = {
    var x = seed
    Seq.fill(n) { x = x * 6364136223846793005L + 1442695040888963407L; x >>> 33 }
  }

  /** Mersenne prime 2^31-1: modulus of the MinHash universal-hash family. */
  val MinhashP = 2147483647L
  /** 64 hashes as 16 bands × 4 rows: for near-dups at sim ≥ 0.9 the
    * band-miss probability is (1−0.9⁴)¹⁶ ≈ 1e-7 — indistinguishable from
    * 32 bands in practice at half the signature cost; the exact-Jaccard
    * verify stage removes the (slightly more numerous) false candidates. */
  val NumHashes = 64
  val Bands = 16 // × 4 rows/band
  val hashA: Seq[Long] = lcg(0xD1CEB00CL, NumHashes).map(a => (a % (MinhashP - 1)) + 1)
  val hashB: Seq[Long] = lcg(0xBADC0FFEL, NumHashes).map(_ % MinhashP)

  /** 8 sign-LSH hyperplanes × 64 dims, each component an exact 6-dp decimal
    * in (-0.5, 0.5] so the SQL literal parses to the identical double in
    * Spark and DuckDB. */
  val AnnPlanes: Seq[Seq[Double]] =
    (0 until 8).map(j => lcg(0x91A0000L + j, 64).map(v => ((v % 1000001L) - 500000L) / 1e6))

  /** IVF coarse quantizer: [[IvfCells]] literal centroids × 64 dims, 6-dp
    * components (same engine-portability rule as the hyperplanes). Cell
    * assignment is argmin Euclidean distance ⟺ argmax of
    * dot(v, c) − ‖c‖²/2, so each score is one [[graft.functions.VectorDot]]
    * plus a precomputed constant. 16 cells suit the fixture corpus; a real
    * deployment scales cells ∝ √corpus and trains them (k-means) — the
    * plumbing (assign → invert → probe nearest cells) is identical. */
  val IvfCells = 16
  /** Queries probe their [[IvfProbe]] best cells (candidates ≈ probe/cells
    * of the corpus). */
  val IvfProbe = 2
  val IvfCentroids: Seq[Seq[Double]] =
    (0 until IvfCells).map(c => lcg(0xCE11000L + c, 64).map(v => ((v % 1000001L) - 500000L) / 1e6))
  /** ‖c‖²/2 per centroid, precomputed HERE and embedded as the same literal
    * in both engines — no cross-engine summation drift can enter the
    * argmax. */
  val IvfHalfSq: Seq[Double] = IvfCentroids.map(c => 0.5 * c.map(x => x * x).sum)

  /** Fixed-point k-means (v5) quantization shift: added to every 1e-6-unit
    * vector/centroid component so all sums stay non-negative and floor vs
    * truncating integer division can never disagree between engines.
    * Distances subtract components pairwise, so the shift cancels. 1e6
    * covers any |x| < 1 input with 40%+ headroom (embeddings are unit-ish,
    * components observed in (−0.58, 0.52); centroid literals in ±0.5). */
  val KmOff = 1000000L

  /** The 1e-6 fixed-point rounding `floor(x·1e6 + 0.5)` behind every exact
    * vector and sketch surface (cosines, quantized vectors, sample
    * weights): one IEEE multiply, add and floor per value, bit-identical in
    * any engine, so the oracles hash-match the rounded longs. */
  private[graft] def e6(x: Column): Column = floor(x * lit(1e6) + lit(0.5))
  /** [[e6]]'s driver-side twin for literals, bit-equal on every double. */
  private[graft] def e6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
  /** [[e6]] per element of an array column (elements cast to double),
    * shifted by `off` — [[KmOff]] for the all-positive k-means units. */
  private[graft] def e6Array(arr: Column, off: Long = 0L): Column =
    transform(arr, x => { val q = e6(x.cast(DoubleType)); if (off == 0L) q else q + lit(off) })

  /** 4 independent LSH tables × 6 hyperplanes for the near-dup pair miner
    * (multiple small tables trade bucket selectivity for recall). */
  val NdTables = 4
  val NdBits = 6
  val NdPlanes: Seq[Seq[Seq[Double]]] =
    (0 until NdTables).map(t => (0 until NdBits).map(j =>
      lcg(0xA11CE00L + t * 16 + j, 64).map(v => ((v % 1000001L) - 500000L) / 1e6)))

  private def sqlDouble(d: Double): String = BigDecimal(d).bigDecimal.toPlainString
  private def sqlPlaneArray: String =
    AnnPlanes.map(p => p.map(sqlDouble).mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")

  /** Stopword list shared by stats, quality and language-ID. */
  val StopEn = Seq("the", "a", "of", "to", "and", "in", "is", "it")
  val StopEs = Seq("el", "la", "de", "que", "y", "los")
  val StopDe = Seq("der", "die", "das", "und", "ist", "ein")
  val StopFr = Seq("le", "les", "et", "est", "une", "dans")
  private def inList(xs: Seq[String]) = xs.map(s => s"'$s'").mkString("(", ",", ")")

  // ---- D1: exact dedup (hash-groupBy) -------------------------------------

  /** Exact dedup: group on a 256-bit content digest, keep the lowest doc_id
    * per group. Digest-grouping (not raw-text grouping) keeps shuffle rows
    * narrow at 100 TB; min_by avoids a second pass/join. */
  val d1ExactDedup: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents")
    docs
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min_by(struct(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        col("doc_id")).as("keep"))
      .select(col("keep.doc_id"), col("keep.lang"), col("keep.source"), col("keep.n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- D12: canonical-URL dedup --------------------------------------------

  /** URL-canonicalization dedup — the first dedup pass of every web-crawl
    * pipeline (CC/CCNet dedup by normalized URL before any content pass).
    * Each doc gets a deterministically MESSY url planted from doc_id
    * formulas — scheme/host case noise, a `www.` prefix, a scheme-default
    * port, a trailing slash, shuffled query params with `utm_*` tracking
    * noise, a fragment — such that exactly the docs sharing
    * `doc_id % 40` canonicalize to the same URL. The canonicalizer then
    * operates ON THE URL STRING through Spark's codegen'd `parse_url`
    * (protocol/host/path/query components; HOST drops the port for free)
    * + a higher-order filter/sort over the query params: lowercase
    * scheme+host, strip `www.`, strip the port, strip the trailing
    * slash, drop `utm_*` params, sort the survivors, drop the fragment.
    * The oracle re-expresses the same normalization with pure REGEX
    * component extraction (DuckDB has no parse_url), so the gate pins the
    * SEMANTICS, not a shared implementation.
    *
    * Cluster stats are a GROUPBY + join-back, not a window, by design:
    * count/min are algebraic, so the groupBy partial-aggregates map-side
    * (a URL appearing in half the corpus still ships one row per map
    * task), and the join-back is a plain equi-join AQE's skew-join
    * splitting can break up — whereas a window over the canonical url
    * would funnel every row of a hot URL through ONE task with no
    * runtime escape. At fixture scale the cluster table broadcasts and
    * the whole query is one shuffle anyway (PlanSpec pins no-window +
    * broadcast); at 100 TB it degrades to a shuffle join, the
    * skew-tolerant shape. The canonical frame is checkpointed — it
    * feeds both the groupBy and the probe side, and a self-join never
    * reuses its own exchange (the d2/d4 lesson). */
  val d12UrlDedup: Q = (spark, dir) =>
    // declared query = core + deterministic output order (see d2Pairs)
    d12Clusters(spark, dir).orderBy(col("doc_id"))

  /** d12's URL-canonicalization report, unsorted — the reusable core of
    * [[d12UrlDedup]]; pipe4 never needed the global sort (r14 opt). */
  private[queries] def d12Clusters(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val k = pmod(id, lit(40))
    val schemeC = when(pmod(k, lit(2)) === 0, "http").otherwise("https")
    val hostC = concat(lit("example"), pmod(k, lit(4)).cast(StringType), lit(".com"))
    val url = concat(
      when(pmod(id, lit(4)) < 2, upper(schemeC)).otherwise(schemeC), lit("://"),
      when(pmod(id, lit(3)) === 0, "WWW.").otherwise(""),
      when(pmod(id, lit(2)) === 0, upper(hostC)).otherwise(hostC),
      when(pmod(id, lit(5)) === 0,
        when(pmod(k, lit(2)) === 0, ":80").otherwise(":443")).otherwise(""),
      lit("/p/"), k.cast(StringType),
      when(pmod(id, lit(6)) === 0, "/").otherwise(""),
      lit("?"),
      when(pmod(id, lit(2)) === 0,
        concat(lit("id="), k.cast(StringType), lit("&utm_source=s"),
          pmod(id, lit(7)).cast(StringType)))
        .otherwise(concat(lit("utm_source=s"), pmod(id, lit(7)).cast(StringType),
          lit("&id="), k.cast(StringType))),
      when(pmod(id, lit(3)) === 1,
        concat(lit("#sec"), pmod(id, lit(5)).cast(StringType))).otherwise(""))
    val canonQuery = expr(
      "array_join(array_sort(filter(split(parse_url(url, 'QUERY'), '&'), " +
        "x -> NOT startswith(x, 'utm_'))), '&')")
    val canon = concat(
      lower(expr("parse_url(url, 'PROTOCOL')")), lit("://"),
      regexp_replace(lower(expr("parse_url(url, 'HOST')")), "^www\\.", ""),
      regexp_replace(expr("parse_url(url, 'PATH')"), "/$", ""),
      when(canonQuery =!= "", concat(lit("?"), canonQuery)).otherwise(""))
    val base = t(spark, dir, "documents")
      .select(id, url.as("url"))
      .withColumn("canonical_url", canon)
      .localCheckpoint() // feeds groupBy + probe side; GC-released (see d2)
    val clusters = base.groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("cluster_size"), min(id).as("canonical_doc"))
    base.join(clusters, "canonical_url")
      .withColumn("is_dup", (id =!= col("canonical_doc")).cast(IntegerType))
      .select(col("doc_id"), col("url"), col("canonical_url"),
        col("cluster_size"), col("canonical_doc"), col("is_dup"))
  }

  // ---- shared shingling ----------------------------------------------------

  /** doc_id + distinct xxhash64 images of the word-3-gram shingles, via the
    * native [[graft.functions.ShingleIds]] expression (one compiled pass
    * over the text bytes; bit-identical to the composed
    * split/transform/xxhash64/array_distinct built-ins it replaced, which
    * being higher-order functions evaluate interpreted per element).
    *
    * The seed-chained triple hash and single-space split keep hash equality
    * classes equal to the oracles' string-shingle equality (words can never
    * contain the delimiter, so triple ↔ joined-string is a bijection;
    * collisions inside one pair's union ≪1e-15). Longs instead of strings
    * mean the downstream minhash / prefix / verify stages never pay string
    * allocation, hashing, or comparison — at 100 TB the shingle stream is
    * 8 bytes/element instead of ~25. */
  private def shingled(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    fanOut(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), expr("shingle_ids(text)").as("ids"))
  }

  // ---- D2: MinHash + banded LSH near-dup ----------------------------------

  /** Near-duplicate pairs by MinHash/LSH with exact-Jaccard verification.
    *
    * shingle → [[NumHashes]]-slot MinHash signature (universal hashes over
    * a 31-bit shingle hash) → [[Bands]] bands × 4 rows → band-bucket
    * equi-join for candidates → exact Jaccard on candidates only →
    * threshold 0.5. With dup pairs at sim ≥ 0.9, band-miss probability is
    * (1−0.9⁴)^Bands ≈ 1e-7 at 16 bands, so the output equals the exact
    * all-pairs result the oracle computes — without the O(n²) cross join
    * that would be impossible at scale. (Pairs near the 0.5 threshold
    * would need more bands; this corpus is bimodal at 0.9 vs 0.07.) */
  /** LSH band-bucket rows of a (doc_id, ids) shingle frame — the
    * signature runs as explode + [[NumHashes]] codegen'd min() aggregates
    * (an order of magnitude faster than per-row higher-order lambdas,
    * which Spark evaluates interpreted, and the same map-side-combine
    * shape a cluster wants; the shingle ids are already 31-bit-maskable
    * longs, so no per-row string hash), then [[Bands]] bands of 4 slots
    * xxhash64'd into bucket keys. Shared by d2's one-shot near-dup join
    * and d15's incremental admission — one recipe, no drift. */
  private def lshBuckets(sh: DataFrame): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("ids")).as("sid"))
      .withColumn("x", expr(s"sid & $MinhashP"))
    val minAggs = (0 until NumHashes).map(k =>
      min(pmod(lit(hashA(k)) * col("x") + lit(hashB(k)), lit(MinhashP))).as(s"m$k"))
    val sig = ex.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
    val bandCols = (0 until Bands).map(b =>
      xxhash64(lit(b), col(s"m${4 * b}"), col(s"m${4 * b + 1}"),
        col(s"m${4 * b + 2}"), col(s"m${4 * b + 3}")))
    sig.select(col("doc_id"), posexplode(array(bandCols: _*)))
      .toDF("doc_id", "band", "bucket")
  }

  val d2MinhashLsh: Q = (spark, dir) =>
    // the declared query adds the deterministic output order; every
    // internal consumer (d6/d13/d15/d17/d18/g2/t21/...) reads [[d2Pairs]]
    // directly — the global sort exists only for the oracle's hashed row
    // order, and paying a range exchange per reuse is the guide-§2.4
    // "orderBy used only to make output deterministic" anti-pattern
    d2Pairs(spark, dir).orderBy(col("a_id"), col("b_id"))

  /** d2's verified near-dup pairs, unsorted and localCheckpoint'd —
    * the reusable core of [[d2MinhashLsh]] (r14 opt). */
  private[queries] def d2Pairs(spark: SparkSession, dir: String): DataFrame = {
    // localCheckpoint (not persist): three consumers share the shingling
    // pass, and the materialized blocks are released by the ContextCleaner
    // when the result goes out of scope — a persist() here has no safe
    // unpersist point (the returned DataFrame is lazy) and would leak
    // cached blocks into a library consumer's session
    val sh = shingled(spark, dir)
      .select(col("doc_id"), col("ids"), size(col("ids")).as("n"))
      .localCheckpoint()
    // localCheckpoint: buckets feeds BOTH sides of the band self-join, and
    // without it each side re-runs the explode + 64-min-agg signature pass
    // (a self-join never reuses its own exchange — the d4 lesson)
    val buckets = lshBuckets(sh).localCheckpoint()
    // keep the pre-verify distinct: a true near-dup pair collides in ~10 of
    // 16 bands, so dedup here shrinks the verify input ~10×
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val a = sh.select(col("doc_id").as("a_id"), col("ids").as("sa"), col("n").as("na"))
    val b = sh.select(col("doc_id").as("b_id"), col("ids").as("sb"), col("n").as("nb"))
    // |union| = na + nb − |inter| (per-doc ids are distinct): one long-array
    // intersect per pair, no union materialization, no string comparisons
    cand.join(a, "a_id").join(b, "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      // exact integer domain (round-8 fixed-point sweep): J ≥ 1/2 ⇔
      // 2·|∩| ≥ |∪|, and the projected score is exact ppm — no float
      // division + engine round ever touches the hashed surface
      .filter(lit(2) * col("inter") >= col("uni"))
      .select(col("a_id"), col("b_id"),
        expr("cast(inter as bigint) * 1000000 div uni").as("jaccard_ppm"))
      // r14 opt: materialize the (output-sized) verified pairs — the
      // declared query's range exchange would otherwise re-execute the
      // whole per-candidate array_intersect verify in its sampling job
      // (see d14bNamePairs), and internal consumers fan the frame into
      // self-joins/multiple passes
      .localCheckpoint()
  }

  // ---- D11: asymmetric containment dedup ----------------------------------

  /** Containment pairs: ordered (a, b) with `|A∩B| / |A| >= 0.8` over the
    * shingle sets — the ASYMMETRIC score that catches a document embedded
    * inside a larger one, which Jaccard structurally misses (a 100-shingle
    * doc inside a 10 000-shingle doc has J ≈ 0.01 but containment 1.0 —
    * quote farms, boilerplate-wrapped reposts, chapter-in-book).
    *
    * Scale shape — the asymmetric prefix filter (the overlap-join analog
    * of d4's PPJoin prune, and like it LOSSLESS): containment >= t forces
    * the overlap to reach ⌈t·na⌉, so among the first `na − ⌈t·na⌉ + 1`
    * shingles of A in ANY fixed global order at least one must be in B.
    * Probing only A's (rarest-first) prefix against B's full inverted
    * token list therefore misses nothing while skipping the hot shingles
    * that would make the index join quadratic — and because the prune is
    * provably lossless in any order, the oracle is the exact all-pairs
    * containment join with no candidate-order mirroring. The B side has
    * no length prune (a container may be arbitrarily large) — inherent to
    * containment, which is why the prefix runs on the contained side
    * only. Cost ∝ rare-shingle postings + true pairs, never n². */
  val d11Containment: Q = (spark, dir) => {
    // 0-shingle docs (< 3 words) are excluded up front: 0/0 containment is
    // NaN, and NaN orders ABOVE the threshold in DuckDB but below in
    // Spark — the guard keeps the engines' answers identical
    val sh = shingled(spark, dir)
      .select(col("doc_id"), col("ids"), size(col("ids")).as("n"))
      .filter(col("n") >= 1)
      .localCheckpoint() // shared by prefix + both verify sides (see d2)
    val ex = sh.select(col("doc_id"), col("n"), explode(col("ids")).as("sid"))
    // sharable shingles only: a df = 1 shingle has no cross-doc partner,
    // so it can sit on NEITHER side of the candidate join — cutting it
    // BEFORE the join and the window removes the Zipf tail (the bulk of
    // distinct shingles) from the operator's two dominant shuffles
    val dfreq2 = ex.groupBy(col("sid")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).localCheckpoint()
    val dfreqBroadcastable = dfreq2.count() * 64L <= (256L << 20) // d4's gate
    // every df≥2 posting ranked by its position in the doc's FULL
    // rarest-first order — WITHOUT ranking the df=1 rows: all df=1
    // shingles sort strictly before all df≥2 shingles in (df, sid)
    // order, so the full-order rank of a df≥2 posting is exactly
    // (n − n₂) + its rank among the doc's df≥2 postings (n₂ = that
    // count, from the same window partitioning — one shuffle). The
    // prefix bound below still counts df=1 slots, which is what makes
    // the prefix prune lossless: a true pair's contained side has
    // ≤ n − ⌈4n/5⌉ single-holder shingles, fewer than the prefix length,
    // so at least one prefix slot always holds a sharable shingle.
    val wd = Window.partitionBy(col("doc_id"))
    val ranked = ex.join(if (dfreqBroadcastable) broadcast(dfreq2) else dfreq2, "sid")
      .withColumn("rk2", row_number().over(wd.orderBy(col("df"), col("sid"))))
      .withColumn("n2", count(lit(1)).over(wd))
      .withColumn("rk", col("n") - col("n2") + col("rk2"))
      .select(col("doc_id"), col("n"), col("sid"), col("rk"))
      .localCheckpoint() // feeds BOTH sides of the candidate self-join
    // prefix length na − ⌈0.8·na⌉ + 1, integer-exact: ⌈4n/5⌉ = (4n+4) div 5
    val prefix = ranked.filter(col("rk") <= col("n") - expr("(4 * n + 4) div 5") + 1)
    // positional prune (lossless, d4's PPJoin argument): a shared token at
    // ranks (rx, ry) bounds the overlap by 1 + min(na−rx, nb−ry), which
    // must reach ⌈0.8·na⌉ — for an integer bound, ub ≥ ⌈4n/5⌉ ⟺ 5·ub ≥ 4n.
    // A true pair's FIRST shared token always passes; the join keeps a
    // pair if any token row does.
    val cand = prefix.as("x").join(ranked.as("y"),
        col("x.sid") === col("y.sid") && col("x.doc_id") =!= col("y.doc_id") &&
          lit(5) * (lit(1) + least(col("x.n") - col("x.rk"),
            col("y.n") - col("y.rk"))) >= lit(4) * col("x.n"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val a = sh.select(col("doc_id").as("a_id"), col("ids").as("sa"), col("n").as("na"))
    val b = sh.select(col("doc_id").as("b_id"), col("ids").as("sb"))
    cand.join(a, "a_id").join(b, "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      // exact integer domain: C ≥ 4/5 ⇔ 5·|∩| ≥ 4·|A|; projected exact ppm
      .filter(lit(5) * col("inter") >= lit(4) * col("na"))
      .select(col("a_id"), col("b_id"),
        expr("cast(inter as bigint) * 1000000 div na").as("containment_ppm"))
      // r14 opt: sort-sampling would re-run the array_intersect verify
      // (see d14bNamePairs); the checkpoint is output-sized
      .localCheckpoint()
      .orderBy(col("a_id"), col("b_id"))
  }

  // ---- D3: SimHash fingerprint --------------------------------------------

  /** 60-bit SimHash over word tokens. The per-word hash is the first 15 hex
    * digits of md5 (engine-portable); each bit of the fingerprint is the
    * sign of the ±1 vote sum across tokens. A narrow map-side projection —
    * no shuffle; near-dup lookups then group on fingerprint prefixes. */
  val d3Simhash: Q = (spark, dir) =>
    // declared query = core + deterministic output order (see d2Pairs)
    d3Fingerprints(spark, dir).orderBy(col("doc_id"))

  /** d3's per-doc fingerprints, unsorted — the reusable core of
    * [[d3Simhash]]; d13 never needed the global sort (r14 opt). */
  private[queries] def d3Fingerprints(spark: SparkSession, dir: String): DataFrame = {
    // explode words, then 60 codegen'd conditional-sum aggregates (one per
    // bit) — partial aggregation combines map-side, so the shuffle carries
    // 60 longs per doc, not the token stream. fanOut first: the md5-per-word
    // explode is CPU-dense, and a single-row-group input file would
    // otherwise cap it at one task
    val ex = fanOut(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      .withColumn("h", expr("cast(conv(substring(md5(word),1,15),16,10) as bigint)"))
    val bitAggs = (0 until 60).map(j =>
      sum(when(expr(s"(shiftright(h, $j) & 1) = 1"), 1L).otherwise(-1L)).as(s"b$j"))
    val fingerprint = (0 until 60)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    ex.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), fingerprint.as("simhash"))
  }

  // ---- D4: n-gram Jaccard similarity join within source groups -------------

  /** Exact word-3-gram Jaccard join blocked by `source`, with PPJoin-style
    * PREFIX FILTERING: order each doc's shingles by global document
    * frequency (rarest first — one canonical order for all docs) and keep
    * only the first `n − ⌈t·n⌉ + 1`. Any pair with Jaccard ≥ t provably
    * shares a shingle inside BOTH prefixes (Chaudhuri et al.), so the
    * candidate equi-join on (source, prefix-shingle) misses nothing while
    * pruning the high-frequency shingles that would otherwise make the
    * inverted-index join quadratic. Candidates are then verified with the
    * exact intersect/union — output identical to all-pairs, cost
    * proportional to true near-dups. */
  val d4NgramJaccard: Q = (spark, dir) => {
    // threshold J ≥ 3/10 — the pruning AND verify math is integer-exact
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("source"))
    // checkpointed: the verify stage joins TWO derivations of this frame
    // (a ⋈ b below is a self-join, which never reuses its own exchange),
    // and dfreq/prefix re-derive it too — without the checkpoint the
    // shingle pass re-runs ~4× and d4 went 19→58 s at the sf1 rehearsal
    // tier. (A round-3 bench read the checkpoint as a 3× sf0.1 regression;
    // that number was box contention — quiet-box medians are ~3.2 s at
    // sf0.1 with or without it, so the sf1 win decides.)
    val sh = shingled(spark, dir).join(docs, "doc_id")
      .select(col("source"), col("doc_id"), col("ids"), size(col("ids")).as("n"))
      .localCheckpoint() // shared by dfreq/prefix/verify; GC-released (see d2)
    val ex = sh.select(col("source"), col("doc_id"), col("n"), explode(col("ids")).as("sid"))
    // the df table is distinct-shingle-sized — usually ≪ corpus, but that
    // is data-dependent, so the broadcast is GATED on the measured row
    // count (the frame is checkpointed anyway for the count, so the gate
    // is one metadata-cheap action): under the cap the exploded shingle
    // stream never shuffles for this join (AQE's own estimate of a
    // freshly-checkpointed agg is too conservative to rely on); above it
    // the join degrades to a shuffle join instead of failing the driver
    // at the 8 GB broadcast / heap limit — at 100 TB the df table is
    // ~(distinct shingles × 16 B) and CAN outgrow any single executor.
    val dfreq = ex.groupBy(col("sid")).agg(count(lit(1)).as("df")).localCheckpoint()
    // priced at ~64 B/row, not the 16 B raw payload: a broadcast hash
    // relation carries UnsafeRow + hash-table overhead of several × the
    // column bytes, so a raw-bytes gate would admit a near-1 GB broadcast
    // under a 256 MB budget
    val dfreqBroadcastable = dfreq.count() * 64L <= (256L << 20) // ≈4 M (sid, df) rows
    // prefix length n − ⌈t·n⌉ + 1 in integer arithmetic: ⌈3n/10⌉ = (3n+9) div 10
    // (a double ceil(n*0.3) can round the wrong way exactly when 3n/10 is whole)
    // localCheckpoint: prefix feeds BOTH sides of the candidate self-join;
    // without it each side re-runs explode → df-agg → window (no exchange
    // reuse across the self-join), turning a ~12 s plan into ~78 s at the
    // 10× rehearsal tier. (A repartition-on-join-key before the checkpoint
    // would not help: LogicalRDD reports UnknownPartitioning under AQE, so
    // the self-join re-shuffles its checkpointed inputs regardless — two
    // exchanges of narrow uniform-key rows, exactly what a cluster wants.)
    val prefix = ex.join(if (dfreqBroadcastable) broadcast(dfreq) else dfreq, "sid")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sid"))))
      .filter(col("rk") <= col("n") - expr("(3 * n + 9) div 10") + 1)
      // df = 1 ⟹ this doc is the shingle's ONLY holder ⟹ no cross-doc
      // partner can exist — dropping the row from the candidate join is
      // lossless. Ranks are computed BEFORE the cut (prefix membership
      // must reflect the doc's full rarest-first order), and the Zipf
      // tail makes rare-first prefixes MOSTLY df=1, so the join input —
      // the operator's dominant shuffle — shrinks by the tail's share.
      .filter(col("df") >= 2)
      .select(col("source"), col("doc_id"), col("sid"), col("rk"), col("n"))
      .localCheckpoint()
    // candidate join with PPJoin's two extra lossless prunes (both exact):
    //  - length filter: J ≥ t ⟹ t·nb ≤ na ∧ t·na ≤ nb  (3·nb ≤ 10·na …)
    //  - positional filter: a shared token at ranks (rx, ry) bounds the
    //    overlap by 1 + min(na−rx, nb−ry), which must reach the overlap
    //    threshold α = t(na+nb)/(1+t); ubound ≥ α ⟺ 13·ubound ≥ 3(na+nb).
    //    A true pair's FIRST shared prefix token always passes (Chaudhuri /
    //    Xiao et al.), and the join keeps a pair if any token row passes.
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.source") === col("y.source") && col("x.sid") === col("y.sid") &&
          col("x.doc_id") < col("y.doc_id") &&
          lit(3) * col("y.n") <= lit(10) * col("x.n") &&
          lit(3) * col("x.n") <= lit(10) * col("y.n") &&
          lit(13) * (lit(1) + least(col("x.n") - col("x.rk"), col("y.n") - col("y.rk"))) >=
            lit(3) * (col("x.n") + col("y.n")))
      .select(col("x.source").as("source"),
        col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val a = sh.select(col("doc_id").as("a_id"), col("ids").as("sa"), col("n").as("na"))
    val b = sh.select(col("doc_id").as("b_id"), col("ids").as("sb"), col("n").as("nb"))
    // |union| = na + nb − |inter| (per-doc shingles are already distinct),
    // so one array op per pair instead of intersect + union
    cand.join(a, "a_id").join(b, "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      // exact integer domain: J ≥ 3/10 ⇔ 10·|∩| ≥ 3·|∪|; projected exact ppm
      .filter(lit(10) * col("inter") >= lit(3) * col("uni"))
      .select(col("source"), col("a_id"), col("b_id"),
        expr("cast(inter as bigint) * 1000000 div uni").as("jaccard_ppm"))
      // r14 opt: sort-sampling would re-run the array_intersect verify
      // (see d14bNamePairs); the checkpoint is output-sized
      .localCheckpoint()
      .orderBy(col("source"), col("a_id"), col("b_id"))
  }

  // ---- D14: fuzzy record-linkage join (Levenshtein ≤ 1) --------------------

  /** Entity resolution / fuzzy-key join: every record pair whose name
    * field is within Levenshtein distance 1 — the data-cleaning primitive
    * behind near-identical title/URL/author linkage across crawls — via a
    * SYMMETRIC-DELETE neighborhood block (SymSpell, Garbe 2012) and a
    * fused threshold-Levenshtein verify.
    *
    * Deletion neighborhood N(s) = {s} ∪ {s with char i deleted}. Any two
    * strings with lev(a,b) ≤ 1 SHARE a member: a substitution at i means
    * deleting i from both yields the same string; an insert/delete means
    * the longer side's deletion IS the shorter string, which sits in its
    * own neighborhood. So the equi-join on neighborhood members misses no
    * true pair — completeness is structural, not probabilistic (the spec
    * proves it against an all-pairs brute force). Precision comes from the
    * verify: `levenshtein(name, name, 1)` (the thresholded form early-
    * exits outside the ±1 band, O(len) not O(len²)) filters the distance-2
    * pairs that merely share a deletion (e.g. "abc"/"bcd" share "bc").
    *
    * Scale (100 TB): the neighborhood explode is a map-only (len+1)× row
    * expansion — members travel as xxhash64 LONGS, so the operator's one
    * big shuffle moves (id, 8 B) rows on uniform keys; a hash collision
    * can only ADD a candidate, which the verify removes. The candidate
    * generator is a pure equi-join (PlanSpec pins no nested loop), pairs
    * dedup BEFORE the per-pair verify, and the (id, hash) frame is
    * localCheckpoint'ed because it feeds both sides of a self-join (the
    * d2/d4 lesson: a self-join never reuses its own exchange). Higher k
    * uses the standard SymSpell practice — k-deletion neighborhoods over a
    * bounded match-field prefix — same plan shape, O(len^k) expansion. */
  val d14FuzzyJoin: Q = (spark, dir) => {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    // collapse exact duplicates FIRST (standard record-linkage practice —
    // and the scale guard: on a tier where every name replicates k×, the
    // neighborhood join otherwise pays k² per bucket while verifying the
    // SAME string pair k² times): the (len+1)× explode, the candidate
    // self-join and the levenshtein verify all run once per DISTINCT
    // name, keyed by a representative id so every downstream shuffle is
    // an 8-byte long, and id pairs expand from verified NAME pairs at
    // the end. The expansion is output-sized — the answer itself is
    // (a dup-replicated tier multiplies true pairs by k², so the sf1
    // reading is output-BOUND: ~27M id pairs from 262k name pairs).
    val reps = cust.groupBy(col("name")).agg(min(col("id")).as("rid"))
      .localCheckpoint() // feeds the explode AND both verify name fetches
    val rmap = cust.join(reps, "name").select(col("id"), col("rid"))
      .localCheckpoint() // feeds both expansion fetches AND the exact-dup join
    val candR = fuzzyNamePairs(spark, reps, 1, None)
    // expand verified name pairs to id pairs (disjoint groups — each
    // unordered pair appears exactly once, canonicalized a_id < b_id) ...
    val cross = candR
      .join(rmap.select(col("rid").as("a_id"), col("id").as("ia")), "a_id")
      .join(rmap.select(col("rid").as("b_id"), col("id").as("ib")), "b_id")
      .select(least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id"), col("dist").cast("long").as("dist"))
    // ... plus the exact-duplicate pairs (identical names, distance 0):
    // a rid-keyed self-join over duplicate-group-sized buckets
    val same = rmap.as("x").join(rmap.as("y"),
        col("x.rid") === col("y.rid") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"), lit(0L).as("dist"))
    // checkpoint before the global sort: the range exchange's sampling job
    // would otherwise re-execute the id-expansion joins and the verify
    // chain above them a second time (r14 opt — see d14bNamePairs)
    cross.unionByName(same).localCheckpoint().orderBy(col("a_id"), col("b_id"))
  }

  /** SymSpell match-field bound for [[d14bFuzzyJoinK2]]: deletions are
    * generated only inside the first [[D14bPrefix]] characters — the
    * documented SymSpell space/recall dial (neighborhood size is
    * O(prefix²) instead of O(len²) for long fields). For strings no
    * longer than the prefix the neighborhood is the FULL 2-deletion set,
    * so completeness is provable, not statistical (`FuzzyJoinSpec`'s
    * member-sharing property); the fixture's 18-char names sit well
    * inside it. */
  val D14bPrefix = 24

  /** D14 at Levenshtein ≤ 2 — the k = 2 record-linkage tier d14's doc
    * names (k-deletion neighborhoods over a bounded match-field prefix,
    * the standard SymSpell generalization). Structural recall: if
    * lev(a,b) ≤ k, an optimal alignment has s substitutions, d
    * deletions, i insertions with s+d+i ≤ k; dropping the substituted +
    * deleted chars from `a` (≤ k deletions) and the substituted +
    * inserted chars from `b` (≤ k deletions) leaves the SAME string, so
    * the ≤2-deletion neighborhoods of any true pair intersect — the
    * equi-join on neighborhood members misses nothing (proved against
    * all-pairs brute force in `FuzzyJoinSpec`). Precision is the fused
    * `levenshtein(a, b, 2)` verify, which also kills the hash-collision
    * and shared-member-but-distance-3/4 candidates.
    *
    * Output is NAME-pair level — representative ids, thresholded
    * distance, both group sizes, and the implied id-pair count — not the
    * exploded id×id pairs d14 emits at k = 1. That is the deliberate
    * k = 2 scale choice: on a dup-replicated tier the id expansion is
    * k²·|name pairs| rows of pure output (d14's sf1 reading is already
    * output-bound at lev ≤ 1, and lev ≤ 2 has ~20× the name pairs), while
    * the name-level report — what a linkage pipeline actually persists —
    * stays |distinct-name pairs|-sized at every tier. The id expansion
    * remains a trivial keyed join against `rmap` — gated (bounded form)
    * by [[d14cFuzzyExpand]].
    *
    * Scale (100 TB): dup-collapse first (all work per DISTINCT name);
    * the (1 + L + L(L−1)/2)× neighborhood explode is map-only and
    * members travel as xxhash64 LONGS (the one big shuffle is (rid, 8 B)
    * rows); candidates dedup before the per-pair verify; the
    * neighborhood frame is localCheckpoint'ed for its self-join (the
    * d2/d4 lesson). */
  val d14bFuzzyJoinK2: Q = (spark, dir) =>
    d14bNamePairs(spark, dir)
      .select(col("a_id"), col("b_id"), col("dist").cast("long").as("dist"),
        col("a_n"), col("b_n"), (col("a_n") * col("b_n")).as("n_id_pairs"))
      .orderBy(col("a_id"), col("b_id"))

  /** d14b's name-pair stage — distinct-name SymSpell k = 2 blocking +
    * thresholded Levenshtein verify — shared verbatim by [[d14bFuzzyJoinK2]]
    * (the name-level report) and [[d14cFuzzyExpand]] (the gated id
    * expansion): one pipeline, no drift. Returns one row per verified
    * name pair: (a_id, b_id) = representative ids, both names, both
    * group sizes, dist (int, 1..2). */
  private def d14bNamePairs(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val reps = cust.groupBy(col("name"))
      .agg(min(col("id")).as("rid"), count(lit(1)).as("n"))
      .localCheckpoint() // feeds the explode AND both verify name fetches
    // Loud completeness guard (the m6/m7 surrogate-require discipline): the
    // proof above covers edits INSIDE the match-field prefix, so a tier
    // whose names outgrow it must fail here, not silently lose recall
    // where the oracle doesn't run. One 1-row agg over the tiny
    // checkpointed distinct-name frame.
    val maxLen = reps.agg(max(length(col("name")))).head.getInt(0)
    require(maxLen <= D14bPrefix,
      s"d14b: name length $maxLen exceeds the $D14bPrefix-char SymSpell " +
        "prefix — the 2-deletion neighborhood would no longer be complete")
    // materialize the verified pairs ONCE (r14 opt, guide §1/§2.4): both
    // consumers end in a global orderBy whose range exchange's sampling
    // job would otherwise re-execute the whole verify chain
    fuzzyNamePairs(spark, reps, 2, Some(D14bPrefix)).localCheckpoint()
  }

  /** SymSpell deletion neighborhood of every distinct name in `reps`
    * (rid, name, ...): the name itself plus each string left by deleting
    * up to `k` (1 or 2) characters inside the first `prefix` characters
    * (anywhere when `prefix` is None), as (rid, vh = xxhash64 of the
    * member, len = full name length), checkpointed because it feeds both
    * sides of the candidate self-join (the d2/d4 lesson).
    *
    * sequence() descends when start > stop, so each deletion block is
    * guarded (the one-deletion block for empty names, the two-deletion
    * block for a match field shorter than 2). Duplicate members from
    * repeated characters are WITHIN-name (rid is in the dedup key), so
    * array_distinct removes them map-side before the explode (r15 opt,
    * §2.4: no post-explode shuffle of the exploded stream; a within-name
    * xxhash64 collision between two different members survives as two
    * equal rows, which the candidate pair-level distinct absorbs). The
    * NAME rows are fanned out first: without it the AQE-coalesced
    * distinct-name frame would explode (1 + L + L(L−1)/2)× inside one
    * task, and repartitioning the names shuffles |names| rows, not the
    * exploded stream. */
  private def deletionNeighborhood(spark: SparkSession, reps: DataFrame, k: Int,
                                   prefix: Option[Int]): DataFrame = {
    require(k == 1 || k == 2, s"deletion neighborhood: k = $k, only 1 and 2 are built")
    val len = prefix.fold("length(name)")(p => s"least(length(name), $p)")
    // the name with the chars at 1-based positions ps (ascending) deleted
    def deleteAt(ps: String*): String = {
      val gaps = ps.zip(ps.tail).map { case (a, b) => s"substring(name, $a + 1, $b - $a - 1)" }
      ((s"substring(name, 1, ${ps.head} - 1)" +: gaps) :+ s"substring(name, ${ps.last} + 1)")
        .mkString("concat(", ", ", ")")
    }
    val one = s"transform(sequence(1, $len), i -> ${deleteAt("i")})"
    val two = s"flatten(transform(sequence(1, $len - 1), " +
      s"i -> transform(sequence(i + 1, $len), j -> ${deleteAt("i", "j")})))"
    val blocks = Seq(s"CASE WHEN length(name) >= 1 THEN $one ELSE array() END") ++
      (if (k == 2) Seq(s"CASE WHEN $len >= 2 THEN $two ELSE array() END") else Nil)
    val members = ("array(name)" +: blocks).mkString("array_distinct(concat(", ", ", "))")
    fanOut(spark, reps)
      .select(col("rid"), explode(expr(members)).as("v"), length(col("name")).as("len"))
      .select(col("rid"), xxhash64(col("v")).as("vh"), col("len"))
      .localCheckpoint() // feeds both sides of the candidate self-join
  }

  /** Candidate → verify chain over the ≤ k-deletion neighborhoods of the
    * distinct names in `reps` (rid, name, extra columns...): the
    * neighborhood self-join on the member hash, banded by
    * |len(a) − len(b)| ≤ k (lev ≤ k bounds the length difference, so the
    * band is lossless and prunes the stream before the pair dedup), each
    * candidate pair once, then the thresholded `levenshtein(a, b, k)`
    * verify. One row per verified pair: a_id < b_id (rids), each side's
    * reps columns prefixed a_/b_, dist (int, 1..k). Not materialized. */
  private def fuzzyNamePairs(spark: SparkSession, reps: DataFrame, k: Int,
                             prefix: Option[Int]): DataFrame = {
    val nb = deletionNeighborhood(spark, reps, k, prefix)
    def side(s: String) = reps.select(("rid" +: reps.columns.filterNot(_ == "rid"))
      .map(c => col(c).as(if (c == "rid") s"${s}_id" else s"${s}_$c")): _*)
    nb.as("x").join(nb.as("y"),
        col("x.vh") === col("y.vh") && col("x.rid") < col("y.rid") &&
          abs(col("x.len") - col("y.len")) <= k)
      .select(col("x.rid").as("a_id"), col("y.rid").as("b_id"))
      .distinct() // a pair shares many members; verify each pair once
      .join(side("a"), "a_id")
      .join(side("b"), "b_id")
      .withColumn("dist", expr(s"levenshtein(a_name, b_name, $k)"))
      .filter(col("dist") >= 0) // thresholded form returns -1 past the bound
  }

  /** Per-side id cap for [[d14cFuzzyExpand]]: each duplicate group
    * contributes its [[D14cCap]] smallest member ids, so a name pair
    * expands to at most Cap² id pairs — the output stays
    * O(Cap²·|name pairs|) at EVERY tier, by construction. */
  val D14cCap = 3

  /** The id-level expansion of d14b's k = 2 name pairs — the gate for
    * d14b's "the id expansion remains a trivial keyed join" claim, in
    * the bounded form a linkage pipeline would actually materialize:
    * each side's duplicate group capped to its [[D14cCap]] smallest ids
    * (deterministic — smallest-id order, the same canonicalization d14's
    * reps use), cross-name pairs expanded capped-a × capped-b, plus the
    * same-name (dist = 0) pairs among each group's capped members. Ids
    * belong to exactly one name, so the two channels are disjoint and no
    * pair dedup is needed; unordered pairs canonicalize least/greatest.
    *
    * Scale: the expansion joins are keyed equi-joins on the 8-byte rid
    * against a frame of ≤ Cap rows per distinct name; the name-pair
    * frame is verified-output-sized; the capped frame is
    * localCheckpoint'ed because it feeds three consumers (both expansion
    * fetches and the same-name self-join — the d2/d4 lesson). Output is
    * ≤ (Cap² + Cap(Cap−1)/2)·|groups| rows regardless of replication
    * factor — the k² blowup d14b's name-level report avoids stays
    * avoided here. */
  val d14cFuzzyExpand: Q = (spark, dir) => {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    // K smallest ids per duplicate group, keyed by the group's
    // representative id (= min id, d14's rmap convention)
    val capped = cust
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("name")).orderBy(col("id"))))
      .withColumn("rid", min(col("id")).over(Window.partitionBy(col("name"))))
      .filter(col("rn") <= D14cCap)
      .select(col("rid"), col("id"))
      .localCheckpoint() // feeds both expansion fetches AND the self-join
    val cross = d14bNamePairs(spark, dir)
      .join(capped.select(col("rid").as("a_id"), col("id").as("ia")), "a_id")
      .join(capped.select(col("rid").as("b_id"), col("id").as("ib")), "b_id")
      .select(least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id"),
        col("dist").cast("long").as("dist"))
    val same = capped.as("x").join(capped.as("y"),
        col("x.rid") === col("y.rid") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        lit(0L).as("dist"))
    // no barrier before the global sort: the union tail is OUTPUT-sized
    // (tens of millions of id pairs at sf1), so re-running the keyed
    // expansion joins in the range exchange's sampling job costs less than
    // materializing it (the verify chain behind d14bNamePairs' barrier is
    // what must not run twice)
    cross.unionByName(same).orderBy(col("a_id"), col("b_id"))
  }

  // ---- D15: incremental near-dup admission through the store ---------------

  /** Arrival batches the corpus replays as (doc_id-ordered terciles). */
  val D15Batches = 3

  /** The [[D15Batches]]-batch admission state machine (d15's body):
    * replays the corpus as doc_id-ordered terciles through the
    * bucket/shingle state tables under `root` and returns one
    * `(doc_id, batch, admitted, n_blockers, blocker_id)` row per doc
    * (each batch's frame checkpointed before its merges). Shared by d15
    * (the admission report) and d18 (which then RETIRES docs and
    * re-admits their rejects) — one state machine, no drift. The caller
    * owns `root`. */
  private def admissionRun(spark: SparkSession, dir: String, root: String): DataFrame = {
    import graft.incremental.{Manifest, SnapshotStore}
    {
      val sh = shingled(spark, dir)
        .select(col("doc_id"), col("ids"), size(col("ids")).as("n"))
        .localCheckpoint()
      val nDocs = math.max(sh.count(), 1L) // 1-row action, like d9's count
      def inBatch(b: Int): Column =
        expr(s"least(${D15Batches - 1}, doc_id * $D15Batches div $nDocs)") === b
      val perBatch = (0 until D15Batches).map { b =>
        val batchSh = sh.filter(inBatch(b)).localCheckpoint()
        val batchBk = lshBuckets(batchSh).localCheckpoint() // join + merge feeds
        val stateBk = SnapshotStore.read(spark, s"$root/buckets")
        val stateSh = SnapshotStore.read(spark, s"$root/shingles")
        val crossCand = stateBk.map(s => s.as("x").join(batchBk.as("y"),
            col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
          .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id")))
        val withinCand = batchBk.as("x").join(batchBk.as("y"),
            col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        val cand = crossCand.fold(withinCand)(_ unionByName withinCand).distinct()
        val aSh = stateSh.fold(batchSh)(_ unionByName batchSh)
          .select(col("doc_id").as("a_id"), col("ids").as("sa"), col("n").as("na"))
        val bSh = batchSh
          .select(col("doc_id").as("b_id"), col("ids").as("sb"), col("n").as("nb"))
        val blocked = cand.join(aSh, "a_id").join(bSh, "b_id")
          .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
          .withColumn("uni", col("na") + col("nb") - col("inter"))
          .filter(lit(2) * col("inter") >= col("uni"))
          .groupBy(col("b_id"))
          .agg(min(col("a_id")).as("blocker_id"),
            count(lit(1)).cast(LongType).as("n_blockers"))
        val result = batchSh.select(col("doc_id"))
          .join(blocked, col("doc_id") === col("b_id"), "left")
          .select(col("doc_id"), lit(b).as("batch"),
            col("blocker_id").isNull.as("admitted"),
            coalesce(col("n_blockers"), lit(0L)).as("n_blockers"),
            col("blocker_id"))
          .localCheckpoint() // freeze BEFORE the state merges move the store
        // redeliver the previous merge's head rows: the keyed merge must
        // swallow the replay (at-least-once delivery, v15's overlap)
        val redelivered = stateBk.map(s =>
          batchBk.unionByName(s.filter(pmod(col("doc_id"), lit(53)) === 0)))
          .getOrElse(batchBk)
        // both state tables persist BUCKETED on their probe keys (the
        // round-10 store layout): the candidate join clusters on the full
        // (band, bucket) key — co-partitioning requires ALL cluster keys
        // by default — and the verify fetch on doc_id, so at scale each
        // batch re-shuffles only ITSELF; the corpus-sized state reads
        // co-located bucket files (BucketedJoinSpec pins the
        // one-exchange shape)
        SnapshotStore.merge(spark, s"$root/buckets", redelivered,
          Seq("doc_id", "band"),
          bucketBy = Some(Manifest.Buckets(8, Seq("band", "bucket"),
            Seq("band", "bucket"))))
        SnapshotStore.merge(spark, s"$root/shingles", batchSh, Seq("doc_id"),
          bucketBy = Some(Manifest.Buckets(8, Seq("doc_id"), Seq("doc_id"))))
        result
      }
      perBatch.reduce(_ unionByName _)
    }
  }

  /** Incremental near-duplicate ADMISSION — the dedup twin of v15's
    * persisted ANN index: the corpus arrives as [[D15Batches]]
    * doc_id-ordered batches and the near-dup state (LSH band buckets +
    * shingle-id sets of every doc SEEN so far, admitted or rejected —
    * dedup-against-seen, so rejection chains still block) persists in the
    * snapshot store between runs. A doc is admitted iff no earlier doc is
    * a verified near-dup: candidates from the band-bucket equi-join of
    * the batch against state ∪ itself, verified at d2's exact integer
    * threshold (2·|∩| ≥ |∪|). The admitted set is provably
    * batch-partition-invariant (the bucket join is symmetric and
    * "earlier" is doc_id order), which is exactly what lets a DECLARATIVE
    * oracle grade an incremental pipeline.
    *
    * Scale shape: per batch, signatures are computed for BATCH docs only
    * (the one-shot d2 pass re-signs the corpus every run); the candidate
    * join is batch-buckets × colliding-state (state side never
    * self-joins), verify joins fetch only candidate docs' shingle rows
    * from the store by key; the buckets merge redelivers the previous
    * batch's head rows to prove the keyed merge swallows replays (v15's
    * discipline). State is ~17 rows/doc (16 band longs + 1 shingle array)
    * — at 10¹⁰ docs a bucketable, incrementally-merged table, never
    * recomputed. */
  val d15IncrementalNeardup: Q = (spark, dir) => {
    val root = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    try admissionRun(spark, dir, root).orderBy(col("doc_id"))
    finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- D18: delete-aware admission (retirement un-blocks rejects) ----------

  /** Docs retired after the admission run: every 7th by id — enough
    * overlap with the planted near-dup clusters that retirements
    * actually un-block rejects (graded, not assumed: the oracle computes
    * readmissions declaratively). */
  val D18RetireMod = 7
  val D18RetireRem = 3

  /** d18's takedown + bounded re-admission machinery, shared with g2c
    * (one machine, no drift): the retired docs — named as a FRAME and
    * drained from BOTH state tables through
    * [[graft.incremental.SnapshotStore.deleteKeys]]'s anti-join (the
    * takedown-list shape: no driver collect, no isin literal, and at
    * scale the list is whatever an upstream computation emits) — then
    * the bounded re-admission pass of the [[d18DeleteReadmission]]
    * scaladoc. `pre` is the full-corpus admission report the retirement
    * interrupts. Returns the SURVIVORS' report (doc_id, admitted,
    * n_blockers, blocker_id, readmitted), unordered and lazy — the
    * caller owns the checkpoint/sort and the store root's lifetime. */
  private def retireAndReadmit(spark: SparkSession, root: String,
                               pre: DataFrame, retireP: Column): DataFrame = {
    import graft.incremental.SnapshotStore
    // the retired-doc FRAME: shingle state holds exactly one row per
    // seen doc, so it names the takedown batch (bucket rows can be
    // absent for an empty-shingle doc)
    val retiredDocs = SnapshotStore.read(spark, s"$root/shingles").get
      .filter(retireP).select(col("doc_id")).localCheckpoint()
    // capture the retiring docs' bucket rows BEFORE the delete — the
    // affected-set probe needs them, and reading them now costs one
    // bucket-pruned store read (doc_id is a cluster key)
    val retiredBk = SnapshotStore.read(spark, s"$root/buckets").get
      .join(retiredDocs, Seq("doc_id"), "left_semi").localCheckpoint()
    SnapshotStore.deleteKeys(spark, s"$root/buckets", Seq("doc_id"), retiredDocs)
    SnapshotStore.deleteKeys(spark, s"$root/shingles", Seq("doc_id"), retiredDocs)
    val survBk = SnapshotStore.read(spark, s"$root/buckets").get
    val survSh = SnapshotStore.read(spark, s"$root/shingles").get
      .select(col("doc_id"), col("ids"), col("n"))
    // affected = blocked survivors sharing ANY band bucket with a
    // retired doc (⊇ docs with a retired blocker: blocker pairs share
    // a bucket by construction)
    val blockedIds = pre.filter(!col("admitted") && !retireP)
      .select(col("doc_id"))
    val affected = survBk.join(blockedIds, Seq("doc_id"), "left_semi")
      .as("x").join(retiredBk.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(col("x.doc_id")).distinct().localCheckpoint() // probe + carry-over split
    // re-verify affected docs against the SURVIVING state only
    val affBk = survBk.join(affected, Seq("doc_id"), "left_semi")
    val cand = survBk.as("x").join(affBk.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val aSh = survSh.select(col("doc_id").as("a_id"), col("ids").as("sa"), col("n").as("na"))
    val bSh = survSh.select(col("doc_id").as("b_id"), col("ids").as("sb"), col("n").as("nb"))
    val blocked2 = cand.join(aSh, "a_id").join(bSh, "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(lit(2) * col("inter") >= col("uni"))
      .groupBy(col("b_id"))
      .agg(min(col("a_id")).as("blocker_id"),
        count(lit(1)).cast(LongType).as("n_blockers"))
    val recomputed = affected
      .join(blocked2, col("doc_id") === col("b_id"), "left")
      .select(col("doc_id"),
        col("blocker_id").isNull.as("admitted"),
        coalesce(col("n_blockers"), lit(0L)).as("n_blockers"),
        col("blocker_id"),
        col("blocker_id").isNull.as("readmitted")) // all affected were blocked
    val carried = pre.filter(!retireP)
      .join(affected, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("admitted"), col("n_blockers"),
        col("blocker_id"), lit(false).as("readmitted"))
    carried.unionByName(recomputed)
  }

  /** The non-monotone incremental class for the SIMILARITY ladder —
    * d17 proved retroactive invalidation for substring dedup; d18 is
    * the analogous hazard for d15's admission under DELETION: when a
    * doc is retired (takedown/GDPR), the docs it was blocking must be
    * RE-ADMITTED unless some other surviving smaller near-dup still
    * blocks them. Flow: d15's three-batch admission state machine
    * ([[admissionRun]] — shared, no drift), then the frame-keyed
    * row-DELETE of the retired docs from BOTH state tables + the BOUNDED
    * re-admission pass ([[retireAndReadmit]]): a blocked survivor needs
    * re-checking only if it shares a band bucket with a retired doc
    * (every blocker pair shares a bucket, so the affected set provably
    * covers every doc whose blocker list changed — d17's
    * bounded-recompute argument); affected docs re-verify against the
    * SURVIVING state only, unaffected rows carry over untouched.
    *
    * The final report is declarative — admitted ⇔ no surviving smaller
    * verified near-dup — so the DuckDB oracle grades the whole
    * delete+readmit protocol from the corpus alone, including the
    * `readmitted` flag (blocked in the full corpus, admitted among
    * survivors).
    *
    * Scale shape: the DELETE rewrites only matching partitions
    * (hard-link carry elsewhere); the affected-set probe and the
    * re-verify are equi-joins sized by |retired docs' buckets|, never a
    * state self-join; at 10¹⁰ docs a takedown batch costs
    * O(retired + affected), not O(corpus). */
  val d18DeleteReadmission: Q = (spark, dir) => {
    val root = java.nio.file.Files.createTempDirectory("graft-readmit").toString
    try {
      val retireP = pmod(col("doc_id"), lit(D18RetireMod)) === D18RetireRem
      val pre = admissionRun(spark, dir, root).localCheckpoint()
      retireAndReadmit(spark, root, pre, retireP)
        .localCheckpoint() // materialized before the temp store tree dies
        .orderBy(col("doc_id"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- G2C: DOC-level takedown — admission state × cluster labels in one sweep

  /** G2C: the takedown unit a real right-to-be-forgotten request names is
    * a DOCUMENT — not an edge slice (g2b) or a state row (d18) but ALL of
    * a doc's footprint at once: its d15 admission state (band buckets +
    * shingle rows), its near-dup edges, and its component label. This
    * gate composes the two non-monotone store machines into that one
    * sweep: both state machines build through the store (d15's three-
    * batch admission replay; g2's three-batch edge arrival), then ONE
    * deterministic doc-retirement sweep (d18's modulus, so retirements
    * provably overlap the planted near-dup clusters) drives
    *   (a) frame-keyed deletes of the retired docs from buckets+shingles
    *       + d18's bounded re-admission of affected blocked survivors
    *       ([[retireAndReadmit]] — d18's machine verbatim), and
    *   (b) retirement of every INCIDENT edge + scoped component
    *       recompute + isolated-vertex drain ([[ccRetireState]] — g2b's
    *       machine with the incident-edge predicate; the retired doc
    *       itself leaves the labeling through the isolation drain, since
    *       a doc with no surviving incident edge is not a vertex of the
    *       surviving graph).
    * The composed report — admission verdict × cluster label per
    * surviving doc — is graded DECLARATIVELY against the surviving
    * corpus alone (one-shot blocker recompute + recursive-CTE CC over
    * surviving pairs): a blocked doc whose only blocker was taken down
    * must re-admit AND its split component must re-label, in one gate.
    *
    * Scale shape: both sweeps are O(retired + affected), never O(corpus)
    * — d18's and g2b's bounds compose additively; every delete is
    * frame-keyed (anti-join) or predicate-scoped; the serve join is
    * survivors × (clustered survivors), both already store-resident. */
  val g2cDocTakedown: Q = (spark, dir) => {
    import graft.incremental.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("graft-g2c").toString
    try {
      val retireP = pmod(col("doc_id"), lit(D18RetireMod)) === D18RetireRem
      val pre = admissionRun(spark, dir, root).localCheckpoint()
      val pairs = d2Pairs(spark, dir).select(col("a_id"), col("b_id"))
      incrementalCcRun(spark, pairs, s"$root/graph")
      val admission = retireAndReadmit(spark, root, pre, retireP)
      val labels =
        if (SnapshotStore.read(spark, s"$root/graph/edges").isEmpty) {
          import spark.implicits._
          Seq.empty[(Long, Long, Long)]
            .toDF("doc_id", "canonical_id", "cluster_size")
        } else ccRetireState(spark, s"$root/graph",
          pmod(col("a_id"), lit(D18RetireMod)) === D18RetireRem ||
            pmod(col("b_id"), lit(D18RetireMod)) === D18RetireRem)
      admission.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), col("admitted"), col("n_blockers"),
          col("blocker_id"), col("readmitted"),
          col("canonical_id"), col("cluster_size"))
        .localCheckpoint() // materialized before the temp store tree dies
        .orderBy(col("doc_id"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- D19B: canonical election maintained through the store ---------------

  /** d19b's per-batch election hook, run by [[incrementalCcRun]] after each
    * batch's label merge: score the batch's touched docs ([[t19Scored]] —
    * map-only, subset-invariant), keyed-merge them into the `members`
    * table with a redelivered stored-member slice (v15's overlap
    * discipline: the merge must swallow replays), then re-elect EXACTLY
    * the components the batch touched and drain election rows whose
    * component label VANISHED in the merge (two components absorbing into
    * one leave the loser's label with no vertices — its election row
    * exits through [[graft.incremental.SnapshotStore.deleteKeys]]'s
    * anti-join, never a driver collect). */
  private def d19bElectionHook(docs: DataFrame, root: String)
                              (touched: DataFrame, affOld: Option[DataFrame]): Unit = {
    import graft.incremental.SnapshotStore
    val spark = docs.sparkSession
    val newMembers = t19Scored(
        docs.join(touched.select(col("v").as("doc_id")), "doc_id"))
      .select(col("doc_id"), col("logit6"))
    val delivered = SnapshotStore.read(spark, s"$root/members")
      .map(m => newMembers.unionByName(
        m.filter(pmod(col("doc_id"), lit(53)) === 0)))
      .getOrElse(newMembers)
    SnapshotStore.merge(spark, s"$root/members", delivered, Seq("doc_id"))
    d19ElectAffected(spark, root, touched, affOld)
  }

  /** The election maintenance step shared by d19b (arrival) and d19c
    * (takedown): re-elect EXACTLY the components whose membership the
    * current labels assign to `touched` vertices, then drain election
    * rows for `oldAff` labels that no longer exist (absorbed by a merge,
    * dissolved by a takedown, or renamed by a split) — one machine, no
    * drift between the two non-monotone directions. */
  private def d19ElectAffected(spark: SparkSession, root: String,
                               touched: DataFrame,
                               oldAff: Option[DataFrame]): Unit = {
    import graft.incremental.SnapshotStore
    val labels = SnapshotStore.read(spark, s"$root/labels").get
    val members = SnapshotStore.read(spark, s"$root/members").get
    // current labels of the touched vertices = the components whose
    // membership changed; component-count-sized, broadcast
    val affNew = labels.join(touched, "v").select(col("l")).distinct()
      .localCheckpoint() // scopes the re-election AND the vanish drain
    val affMembers = labels.join(broadcast(affNew), "l")
      .select(col("v").as("doc_id"), col("l"))
      .join(members, "doc_id")
    val w = Window.partitionBy(col("l"))
      .orderBy(col("logit6").desc, col("doc_id"))
    val elect = affMembers.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("l"), col("doc_id").as("canonical_doc"),
        col("logit6").as("canonical_logit6"))
    SnapshotStore.merge(spark, s"$root/election", elect, Seq("l"))
    oldAff.foreach { aff =>
      val stale = aff.join(affNew, Seq("l"), "left_anti")
      SnapshotStore.deleteKeys(spark, s"$root/election", Seq("l"), stale)
    }
  }

  /** The d19b state machine, exposed for the spec: the near-dup pair
    * graph arrives in [[G2Batches]] id-ordered batches ([[incrementalCcRun]]
    * verbatim) and the QUALITY ELECTION — d19's keep decision — is
    * maintained alongside the labels: three store tables (`labels`,
    * `members`, `election`), each batch re-electing only the components
    * it touched. The serve joins the three tables; the corpus is never
    * rescanned at serve time. */
  private[graft] def d19bRun(spark: SparkSession, docs0: DataFrame,
                             pairs: DataFrame, root: String): DataFrame = {
    import graft.incremental.SnapshotStore
    import spark.implicits._
    val docs = docs0.localCheckpoint() // joined against every batch's touched set
    val built = incrementalCcRun(spark, pairs, root,
      d19bElectionHook(docs, root))
    if (SnapshotStore.read(spark, s"$root/election").isEmpty)
      return Seq.empty[(Long, Long, Long, Long, Long, Long, Boolean)]
        .toDF("doc_id", "component_id", "cluster_size", "logit6",
          "canonical_doc", "canonical_logit6", "keep")
    val members = SnapshotStore.read(spark, s"$root/members").get
    val election = SnapshotStore.read(spark, s"$root/election").get
      .select(col("l").as("component_id"), col("canonical_doc"),
        col("canonical_logit6"))
    built.withColumnRenamed("canonical_id", "component_id")
      .join(members, "doc_id")
      .join(election, "component_id")
      .withColumn("keep", col("doc_id") === col("canonical_doc"))
      .select(col("doc_id"), col("component_id"), col("cluster_size"),
        col("logit6"), col("canonical_doc"), col("canonical_logit6"),
        col("keep"))
      .localCheckpoint() // materialized before the temp store dies
      .orderBy(col("doc_id"))
  }

  /** D19B: d19's canonical election maintained INCREMENTALLY through the
    * store — the election twin of g2 (labels) and d15 (admission), and a
    * new non-monotone direction: the keep DECISION flips without any
    * deletion when a LATE-arriving higher-quality member steals a settled
    * component's canonical seat, and an election row is RETIRED without
    * any member leaving when its component is absorbed by a merge (the
    * vanished label drains through the keyed delete). The final served
    * state — labels × stored member scores × stored elections — must
    * hash-match d19's one-shot oracle (recursive-CTE closure × the t19
    * formula); arrival order is invisible.
    *
    * Scale shape: per batch the re-election is |touched components'
    * members|, not the corpus; member scoring is a broadcast-semi-joined
    * scan emitting batch-endpoint rows only; all three state tables are
    * keyed store tables (bucketable, incrementally merged); the vanish
    * drain is bounded by the batch's affected-component count. The serve
    * is three store-table joins — the corpus is not touched. The one
    * corpus-sized term is d2's pair mining, which is d2's own gate. */
  val d19bIncrementalCanonical: Q = (spark, dir) => {
    val root = java.nio.file.Files.createTempDirectory("graft-d19b").toString
    try {
      val docs = fanOut(spark, t(spark, dir, "documents"))
      val pairs = d2Pairs(spark, dir).select(col("a_id"), col("b_id"))
      d19bRun(spark, docs, pairs, root)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- G4: triangle counting over the near-dup graph (transitivity audit) --

  /** G4: exact per-vertex triangle counts + local clustering coefficient
    * over d2's verified near-dup pair graph — the dedup-graph
    * TRANSITIVITY audit (d13's structural sibling): a genuine near-dup
    * relation is near-transitive, so its components should be triangle-
    * dense; a low clustering coefficient on a high-degree vertex flags
    * LSH CHAINING (A~B, B~C verified, A~C absent — clusters that will
    * over-merge under d6's closure). Emits per labeled vertex its
    * degree, triangle count and LCC in ppm (`2·tri·10⁶ div deg·(deg−1)`,
    * integer-exact).
    *
    * The algorithm is the degree-ordered node-iterator (Suri &
    * Vassilvitskii 2011's MR-friendly shape): orient every edge from the
    * (degree, id)-smaller endpoint to the larger, build wedges at each
    * vertex from its OUT-edges only, close them against the oriented
    * edge set. Every triangle is found exactly once (at its minimum-rank
    * corner), and — the scale point — rank orientation bounds every
    * vertex's out-degree by O(√m) regardless of how skewed the raw
    * degree distribution is, so the wedge join's fan-out is bounded
    * where the naive a<b orientation blows up on the hub vertex of a
    * star-shaped near-dup cluster (exactly the shape banded LSH
    * produces). Wedge build and closure are two self-equi-joins on
    * 8-byte keys; the pair frame is checkpointed once and feeds degree,
    * orientation and closure (the self-join rule).
    *
    * Oracle: DuckDB replays triangles over the EXACT pair set (d2's
    * oracle identity) with the naive x<y<z three-way join — same
    * triangles, different algorithm, so an orientation bug or a
    * double-counted corner reds the hash. */
  val g4Triangles: Q = (spark, dir) => {
    val pairs = d2Pairs(spark, dir)
      .select(col("a_id"), col("b_id"))
      .localCheckpoint() // feeds degree, orientation AND closure (self-join rule)
    val deg = pairs.select(col("a_id").as("v"))
      .unionByName(pairs.select(col("b_id").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .localCheckpoint() // orientation (×2), wedge rank and the output row set
    // rank-orient: lower (deg, id) endpoint → higher; out-degree O(√m)
    val e = pairs
      .join(deg.select(col("v").as("a_id"), col("deg").as("da")), "a_id")
      .join(deg.select(col("v").as("b_id"), col("deg").as("db")), "b_id")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a_id") < col("b_id")),
          col("a_id")).otherwise(col("b_id")).as("u"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a_id") < col("b_id")),
          col("b_id")).otherwise(col("a_id")).as("w"))
      .localCheckpoint() // wedge side × closure side (self-join rule)
    // wedges at u from its out-edges, ordered by the FAR endpoints' rank
    val dg = deg.select(col("v"), col("deg"))
    val ew = e.join(dg.select(col("v").as("w"), col("deg").as("dw")), "w")
    val tri = ew.as("e1").join(ew.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.dw") < col("e2.dw") ||
            (col("e1.dw") === col("e2.dw") && col("e1.w") < col("e2.w"))))
      .select(col("e1.u").as("x"), col("e1.w").as("y"), col("e2.w").as("z"))
      // closing edge y→z is rank-oriented exactly (y, z): one lookup
      .join(e.select(col("u").as("y"), col("w").as("z")), Seq("y", "z"))
    val triCnt = tri.select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("tri_cnt"))
    deg.join(triCnt, Seq("v"), "left")
      .withColumn("tri_cnt", coalesce(col("tri_cnt"), lit(0L)))
      .withColumn("lcc_ppm",
        when(col("deg") >= 2,
          expr("2L * tri_cnt * 1000000L div (deg * (deg - 1L))"))
          .otherwise(lit(0L)))
      .select(col("v").as("doc_id"), col("deg").as("degree"),
        col("tri_cnt"), col("lcc_ppm"))
      .orderBy(col("doc_id"))
  }

  // ---- D19C: takedown RE-ELECTION — the canonical itself is retired --------

  /** The d19c state machine, exposed for the spec: build d19b's full
    * election state ([[d19bRun]] — labels, members, election through the
    * store), then retire every document matching `retireDoc` and put the
    * election back in order: [[ccRetireState]] drops the retired docs'
    * incident edges and re-labels/drains the touched components (g2b/g2c's
    * machinery verbatim), the retired docs' member rows drain through the
    * keyed delete, and [[d19ElectAffected]] re-elects exactly the touched
    * components over the SURVIVING members — d19b's election step, same
    * machine. Serves d19's columns over the surviving graph. */
  private[graft] def d19cRun(spark: SparkSession, docs0: DataFrame,
                             pairs: DataFrame, root: String,
                             retireDoc: Column => Column): DataFrame = {
    import graft.incremental.SnapshotStore
    import spark.implicits._
    val docs = docs0.localCheckpoint()
    d19bRun(spark, docs, pairs, root) // builds labels/edges/members/election
    val emptyOut = Seq.empty[(Long, Long, Long, Long, Long, Long, Boolean)]
      .toDF("doc_id", "component_id", "cluster_size", "logit6",
        "canonical_doc", "canonical_logit6", "keep")
    if (SnapshotStore.read(spark, s"$root/election").isEmpty) return emptyOut
    // freeze the sweep's footprint BEFORE the store moves: retired docs
    // (member drain), retired edges' endpoints (election scope), and the
    // touched components' OLD labels (the stale-election drain)
    val stateE0 = SnapshotStore.read(spark, s"$root/edges").get
    val stateL0 = SnapshotStore.read(spark, s"$root/labels").get
    val retiredDocs = stateL0.filter(retireDoc(col("v")))
      .select(col("v")).localCheckpoint()
    val edgeRetire = retireDoc(col("a_id")) || retireDoc(col("b_id"))
    val retiredE = stateE0.filter(edgeRetire).localCheckpoint()
    // nothing to retire at this tier: the pre-takedown serve stands
    if (retiredE.limit(1).count() == 0) return d19Serve(spark, root)
    val touched = retiredE.select(col("a_id").as("v"))
      .unionByName(retiredE.select(col("b_id").as("v"))).distinct()
      .localCheckpoint() // scopes the recompute, the drain AND the re-election
    val oldAff = stateL0.join(touched, "v").select(col("l")).distinct()
      .localCheckpoint()
    ccRetireState(spark, root, edgeRetire) // re-labels touched, drains isolated
    SnapshotStore.deleteKeys(spark, s"$root/members", Seq("doc_id"),
      retiredDocs.select(col("v").as("doc_id")))
    d19ElectAffected(spark, root, touched, Some(oldAff))
    d19Serve(spark, root)
  }

  /** d19b/d19c's shared serve: labels × sizes × members × election, all
    * read back from the store — the corpus is never rescanned. */
  private def d19Serve(spark: SparkSession, root: String): DataFrame = {
    import graft.incremental.SnapshotStore
    val lab = SnapshotStore.read(spark, s"$root/labels").get
    val sizes = lab.groupBy(col("l")).agg(count(lit(1)).as("cluster_size"))
    val members = SnapshotStore.read(spark, s"$root/members").get
    val election = SnapshotStore.read(spark, s"$root/election").get
      .select(col("l"), col("canonical_doc"), col("canonical_logit6"))
    lab.join(sizes, "l")
      .select(col("v").as("doc_id"), col("l"), col("cluster_size"))
      .join(members, "doc_id")
      .join(election, "l")
      .withColumn("keep", col("doc_id") === col("canonical_doc"))
      .select(col("doc_id"), col("l").as("component_id"), col("cluster_size"),
        col("logit6"), col("canonical_doc"), col("canonical_logit6"),
        col("keep"))
      .localCheckpoint() // materialized before the temp store dies
      .orderBy(col("doc_id"))
  }

  /** D19C: the takedown RE-ELECTION — the third non-monotone election
    * direction, and the production case the keep decision exists for: the
    * KEPT document itself is retired (DMCA, right-to-be-forgotten), so
    * its component must promote the next-best surviving member — the
    * verdict flips with no arrival anywhere. One sweep composes three
    * store machines: g2b's incident-edge retirement (splits re-label,
    * isolated vertices leave), the members table's frame-keyed drain, and
    * d19b's scoped re-election with the stale-label drain (a dissolved or
    * renamed component's election row exits through the keyed delete).
    * Graded declaratively: d19's oracle over the SURVIVING pair set.
    *
    * Scale shape: every step is O(retired + touched components), never
    * O(corpus) — g2b's bound for the re-label, the keyed deletes are
    * anti-joins, the re-election is one window over the touched
    * components' members, and the serve is store-table joins only. */
  val d19cTakedownReelection: Q = (spark, dir) => {
    val root = java.nio.file.Files.createTempDirectory("graft-d19c").toString
    try {
      val docs = fanOut(spark, t(spark, dir, "documents"))
      val pairs = d2Pairs(spark, dir).select(col("a_id"), col("b_id"))
      d19cRun(spark, docs, pairs, root,
        c => pmod(c, lit(D18RetireMod.toLong)) === lit(D18RetireRem.toLong))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- G4B: triangle counts maintained under edge ARRIVAL ------------------

  /** The g4b state machine, exposed for the spec: the pair graph arrives
    * in [[G2Batches]] id-ordered batches (g2's arrival shape, redelivered
    * overlaps included) and per-vertex DEGREE and TRIANGLE counts are
    * maintained ADDITIVELY through the store — the per-batch-delta replay
    * class (k7s's discipline) extended from sketches to a GRAPH metric.
    * Idempotency comes from the edge key itself: a redelivered edge
    * anti-joins against the stored edge set and contributes no delta, so
    * the seen-table k7s needs is free here. Each batch's triangle delta
    * is exactly the triangles containing ≥ 1 genuinely-new edge, each
    * counted ONCE — enumerated per new edge from its LOWER-DEGREE
    * endpoint's adjacency (the edge-iterator's skew bound: fan-out
    * min(deg a, deg b), not max) and kept only where the enumerating
    * edge is the lexicographically-least NEW edge of its triangle, so a
    * triangle closing two or three new edges in one batch still counts
    * once. */
  private[graft] def g4bRun(spark: SparkSession, pairs0: DataFrame,
                            root: String): DataFrame = {
    import graft.incremental.SnapshotStore
    import spark.implicits._
    val pairs = pairs0.toDF("a_id", "b_id")
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct().localCheckpoint()
    val maxIdRow = pairs.agg(max(col("b_id"))).head
    if (maxIdRow.isNullAt(0))
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("doc_id", "degree", "tri_cnt", "lcc_ppm")
    val maxId = maxIdRow.getLong(0)
    def inBatch(b: Int): Column =
      expr(s"least(${G2Batches - 1}, b_id * $G2Batches div ${maxId + 1})") === b
    (0 until G2Batches).foreach { b =>
      val stateE = SnapshotStore.read(spark, s"$root/edges")
      // redeliver a deterministic stored slice (v15's overlap discipline):
      // the anti-join below must swallow the replay with zero delta
      val batchE = stateE.map(se =>
          pairs.filter(inBatch(b)).unionByName(
            se.filter(pmod(col("a_id"), lit(53)) === 0)))
        .getOrElse(pairs.filter(inBatch(b)))
        .distinct().localCheckpoint()
      val newE = stateE.map(se => batchE.join(se, Seq("a_id", "b_id"), "left_anti"))
        .getOrElse(batchE).localCheckpoint()
      val eAll = stateE.map(_.unionByName(newE)).getOrElse(newE)
        .localCheckpoint() // adjacency (both directions) AND the closure probe
      // adjacency with the new-edge flag, exploded both ways, keyed x
      val isNew = newE.withColumn("is_new", lit(true))
      val flagged = eAll.join(isNew, Seq("a_id", "b_id"), "left")
        .withColumn("is_new", coalesce(col("is_new"), lit(false)))
        .localCheckpoint() // feeds adj AND the bc-closure lookup
      val adj = flagged.select(col("a_id").as("x"), col("b_id").as("y"), col("is_new"))
        .unionByName(flagged.select(col("b_id").as("x"), col("a_id").as("y"), col("is_new")))
      // pivot each new edge at its lower-degree endpoint (stored degrees —
      // the pre-batch state; absent ⇒ 0). Fan-out min(deg), not max.
      val degT = SnapshotStore.read(spark, s"$root/deg")
        .getOrElse(Seq.empty[(Long, Long)].toDF("v", "deg"))
      val nd = newE
        .join(degT.select(col("v").as("a_id"), col("deg").as("da")), Seq("a_id"), "left")
        .join(degT.select(col("v").as("b_id"), col("deg").as("db")), Seq("b_id"), "left")
        .select(col("a_id"), col("b_id"),
          coalesce(col("da"), lit(0L)).as("da"), coalesce(col("db"), lit(0L)).as("db"))
        .select(col("a_id"), col("b_id"),
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a_id") < col("b_id")),
            col("a_id")).otherwise(col("b_id")).as("piv"))
        .withColumn("oth",
          when(col("piv") === col("a_id"), col("b_id")).otherwise(col("a_id")))
      // candidates: c over adj(piv); close (oth, c); count once at the
      // lexicographically-least NEW edge of the triangle
      val cand = nd.join(adj.withColumnRenamed("x", "piv")
            .withColumnRenamed("y", "c").withColumnRenamed("is_new", "new_pc"), "piv")
        .filter(col("c") =!= col("oth"))
      val closed = cand.join(
          flagged.select(col("a_id").as("ca"), col("b_id").as("cb"),
            col("is_new").as("new_oc")),
          least(col("oth"), col("c")) === col("ca") &&
            greatest(col("oth"), col("c")) === col("cb"))
      val leastNew = closed.filter(
        (!col("new_pc") ||
          (col("a_id") < least(col("piv"), col("c")) ||
            (col("a_id") === least(col("piv"), col("c")) &&
              col("b_id") < greatest(col("piv"), col("c"))))) &&
        (!col("new_oc") ||
          (col("a_id") < least(col("oth"), col("c")) ||
            (col("a_id") === least(col("oth"), col("c")) &&
              col("b_id") < greatest(col("oth"), col("c"))))))
      val triDelta = leastNew
        .select(explode(array(col("a_id"), col("b_id"), col("c"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("d_tri"))
      val degDelta = newE.select(col("a_id").as("v"))
        .unionByName(newE.select(col("b_id").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d_deg"))
      // additive keyed merges: stored + delta (k7s's replay class)
      val triT = SnapshotStore.read(spark, s"$root/tri")
        .getOrElse(Seq.empty[(Long, Long)].toDF("v", "tri_cnt"))
      val newTri = triDelta
        .join(triT.withColumnRenamed("tri_cnt", "t0"), Seq("v"), "left")
        .select(col("v"), (coalesce(col("t0"), lit(0L)) + col("d_tri")).as("tri_cnt"))
      SnapshotStore.merge(spark, s"$root/tri", newTri, Seq("v"))
      val newDeg = degDelta
        .join(degT.withColumnRenamed("deg", "g0"), Seq("v"), "left")
        .select(col("v"), (coalesce(col("g0"), lit(0L)) + col("d_deg")).as("deg"))
      SnapshotStore.merge(spark, s"$root/deg", newDeg, Seq("v"))
      SnapshotStore.merge(spark, s"$root/edges", batchE, Seq("a_id", "b_id"))
    }
    val degF = SnapshotStore.read(spark, s"$root/deg").get
    val triF = SnapshotStore.read(spark, s"$root/tri")
      .getOrElse(Seq.empty[(Long, Long)].toDF("v", "tri_cnt"))
    degF.join(triF, Seq("v"), "left")
      .withColumn("tri_cnt", coalesce(col("tri_cnt"), lit(0L)))
      .withColumn("lcc_ppm",
        when(col("deg") >= 2,
          expr("2L * tri_cnt * 1000000L div (deg * (deg - 1L))"))
          .otherwise(lit(0L)))
      .select(col("v").as("doc_id"), col("deg").as("degree"),
        col("tri_cnt"), col("lcc_ppm"))
      .localCheckpoint() // materialized before the temp store dies
      .orderBy(col("doc_id"))
  }

  /** G4B: g4's transitivity audit maintained INCREMENTALLY — per-vertex
    * degree and triangle counts kept current through the store as the
    * near-dup pair graph arrives in batches, so the LSH-chaining monitor
    * (g4's low-LCC flag) runs per batch WITHOUT recounting the settled
    * graph. The additive per-batch-delta discipline is k7s's replay
    * class on a graph metric; final state must hash-match g4's one-shot
    * naive-recount oracle — arrival order and redelivery are invisible.
    *
    * Scale shape: per batch the enumeration join is |new edges| ×
    * min-endpoint degree (edge-iterator bound, pivot chosen by stored
    * degree), never |graph|; the adjacency probe and closure lookup are
    * 8-byte-key equi-joins against the stored edge table; deltas merge
    * keyed (bucketable). Settled vertices untouched by a batch are never
    * re-shuffled. The one corpus-sized term is d2's pair mining — d2's
    * own gate. */
  val g4bIncrementalTriangles: Q = (spark, dir) => {
    val root = java.nio.file.Files.createTempDirectory("graft-g4b").toString
    try {
      val pairs = d2Pairs(spark, dir).select(col("a_id"), col("b_id"))
      g4bRun(spark, pairs, root)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- V1: brute-force cosine top-k (correctness baseline) -----------------

  /** Cosine top-10 for query vectors (vec_id < 5) over all embeddings —
    * broadcast the tiny query side, single scan of the corpus, two-phase
    * top-k via per-query window. All math in double with a fixed
    * left-to-right summation so the oracle reproduces it exactly. */
  val v1CosineTopk: Q = (spark, dir) => {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr("sqrt(vector_dot(v, v))"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_e6").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_e6",
        e6(expr("vector_dot(v, qv)") / (col("nrm") * col("qn"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("rk"), col("vec_id"), col("cos_e6"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- V2: sign-LSH bucketed ANN (scale path) ------------------------------

  /** ANN variant: 8 literal hyperplanes → 8-bit sign bucket; each query
    * probes only its own bucket (1/256 of the corpus in expectation),
    * then ranks candidates by exact cosine. The planes are fixed 6-dp
    * literals, so buckets — and therefore results — are reproducible in
    * the oracle. */
  val v2AnnLsh: Q = (spark, dir) => {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr("sqrt(vector_dot(v, v))"))
      .withColumn("bucket", expr(
        s"""aggregate(transform(sequence(0, 7), j ->
           |  CASE WHEN vector_dot(v, cast(${sqlPlaneArray}[j] as array<double>)) > 0D
           |       THEN shiftleft(1L, j) ELSE 0L END),
           |  0L, (acc, bit) -> acc + bit)""".stripMargin))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket").as("q_bucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_e6").desc, col("vec_id"))
    e.join(broadcast(q), col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
      .withColumn("cos_e6",
        e6(expr("vector_dot(v, qv)") / (col("nrm") * col("qn"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id"), col("cos_e6"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- V3: IVF-bucketed ANN (inverted-file scale path) ---------------------

  /** Vectors with their IVF cell: `(vec_id, v, nrm, s, cell)` where `s` is
    * the per-centroid score array and `cell` the 1-based argmax. Shared by
    * the v3 index and the d7 semantic dedup; checkpointed because every
    * caller feeds it to ≥2 subtrees (corpus/query sides, join self-pairs). */
  private[graft] def ivfAssigned(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    assignCells(fanOut(spark, t(spark, dir, "embeddings")))
      .localCheckpoint() // shared by corpus/query sides; GC-released (see d2)
  }

  /** The cell-assignment arithmetic of [[ivfAssigned]] over an arbitrary
    * `(vec_id, embedding)` frame — split out so a STREAMING micro-batch
    * can be assigned without a table read (the caller registers
    * `vector_dot` and decides about fanOut/checkpointing). */
  private[graft] def assignCells(emb: DataFrame): DataFrame = {
    def centroidSql(k: Int) =
      IvfCentroids(k).map(sqlDouble).mkString("array(", ",", ")")
    val scoreCols = (0 until IvfCells).map(k => expr(
      s"vector_dot(v, cast(${centroidSql(k)} as array<double>)) - ${sqlDouble(IvfHalfSq(k))}"))
    emb
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr("sqrt(vector_dot(v, v))"))
      .withColumn("s", array(scoreCols: _*))
      // ties break to the first maximal cell in BOTH engines
      // (array_position / list_position return the first match)
      .withColumn("cell", array_position(col("s"), array_max(col("s"))))
  }

  /** One `(vec_id, cell, code)` IVF-PQ index row per input vector — the
    * projection v15 persists, over an arbitrary embeddings frame so the
    * streaming ingest can index a micro-batch directly. */
  private[graft] def ivfpqIndexRows(emb: DataFrame): DataFrame =
    assignCells(emb)
      .withColumn("u", e6Array(col("v")))
      .withColumn("dl", expr(pqDistListsSql))
      .withColumn("code", expr("transform(dl, l -> array_position(l, array_min(l)) - 1)"))
      .select(col("vec_id"), col("cell"), col("code"))

  /** V14: exact RANGE search (the ANN API's other half — every vector
    * with cosine ≥ τ of each query, not a top-k) with lossless IVF cell
    * pruning. For a query q, cell centroid c and the cell's measured
    * angular radius r = max over members of angle(c, v), every member
    * satisfies angle(q, v) ≥ angle(q, c) − r (spherical triangle
    * inequality), so a cell with cos(angle(q,c) − r) < τ cannot contain a
    * match and is never scanned. The slack (6e-7) covers both the 6-dp
    * match rounding and float evaluation error, so the prune is LOSSLESS:
    * the oracle is the naive all-pairs filter, and a hash match proves no
    * cell was wrongly skipped. Scale shape: cell radii are one 16-row
    * aggregate reusing the scores ivfAssigned already computed; the kept
    * (query, cell) pairs broadcast; the corpus scan reads only surviving
    * cells. Recall is exactly 1 by construction — the prune rate, not the
    * result, is what varies with quantizer fit. */
  private val RangeTau = 0.3

  /** The surviving (query, cell) pairs of v14's angular prune — split out
    * so the prune's ACTIVITY (kept ≪ queries × cells) is test-pinned,
    * not just its losslessness (which the oracle hash proves). */
  private[graft] def v14KeptCells(e: DataFrame): DataFrame = {
    val cHalf = expr(
      s"cast(${IvfHalfSq.map(sqlDouble).mkString("array(", ",", ")")} as array<double>)")
    // member→own-centroid cosine: dot(v,c) = s[cell] + ‖c‖²/2, ‖c‖ = √(2·‖c‖²/2)
    def cosToCell(cellCol0: Column): Column = {
      val cellCol = cellCol0.cast(IntegerType)
      val half = element_at(cHalf, cellCol)
      (element_at(col("s"), cellCol) + half) / (col("nrm") * sqrt(lit(2.0) * half))
    }
    def clampAcos(c: Column): Column =
      acos(least(lit(1.0), greatest(lit(-1.0), c)))
    val cellRad = e
      .withColumn("ang_vc", clampAcos(cosToCell(col("cell"))))
      .groupBy(col("cell").as("probe")).agg(max(col("ang_vc")).as("rad"))
    e.filter(col("vec_id") < 5)
      .crossJoin(broadcast(cellRad))
      .withColumn("ang_qc", clampAcos(cosToCell(col("probe"))))
      .filter(cos(greatest(lit(0.0), col("ang_qc") - col("rad"))) >=
        lit(RangeTau) - lit(6e-7))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("probe"))
  }

  val v14RangeSearch: Q = (spark, dir) => {
    val e = ivfAssigned(spark, dir)
    e.join(broadcast(v14KeptCells(e)),
        col("cell") === col("probe") && col("vec_id") =!= col("q_id"))
      .withColumn("cos_e6",
        e6(expr("vector_dot(v, qv)") / (col("nrm") * col("qn"))))
      .filter(col("cos_e6") >= lit((RangeTau * 1e6).toLong))
      .select(col("q_id"), col("vec_id"), col("cos_e6"))
      .orderBy(col("q_id"), col("vec_id"))
  }

  /** IVF ANN: every vector lands in the cell of its nearest coarse-quantizer
    * centroid (one argmax over [[IvfCells]] dot-product scores — the
    * inverted file); each query probes its [[IvfProbe]] best cells and
    * ranks only those candidates by exact cosine. Complements v2: sign-LSH
    * partitions by random hyperplanes, IVF by data-shaped regions, and the
    * probe count tunes recall without touching the index. The centroids and
    * the ‖c‖²/2 terms are literals, so cell assignment — and therefore the
    * result — is reproduced exactly by the oracle. */
  val v3AnnIvf: Q = (spark, dir) => {
    val e = ivfAssigned(spark, dir)
    val q = e.filter(col("vec_id") < 5)
      .withColumn("s2",
        expr("transform(s, (x, i) -> IF(i = cell - 1, CAST(-1e18 AS DOUBLE), x))"))
      .withColumn("cell2", array_position(col("s2"), array_max(col("s2"))))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(array(col("cell"), col("cell2"))).as("probe"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_e6").desc, col("vec_id"))
    e.join(broadcast(q), col("cell") === col("probe") && col("vec_id") =!= col("q_id"))
      .withColumn("cos_e6",
        e6(expr("vector_dot(v, qv)") / (col("nrm") * col("qn"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id"), col("cos_e6"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- V4: int8-quantized top-k (bandwidth/storage scale path) -------------

  /** Cosine top-5 over SYMMETRIC-INT8-QUANTIZED vectors, with the exact
    * cosine alongside for quality inspection. Per-vector quantization:
    * scale = max|vᵢ|/127, qᵢ = ⌊vᵢ/scale + 0.5⌋ — at 100 TB the index is
    * 4× smaller than float32 (64 B/vector here), which is the difference
    * between an in-memory and a spilling ANN corpus; ranking runs entirely
    * on the quantized codes.
    *
    * Determinism: ⌊x+0.5⌋ (not half-even `round`) is bit-identical across
    * engines; the q values are integer-valued, so their dot products are
    * EXACT (≤ 64·127² ≪ 2⁵³) — no summation-order sensitivity at all. The
    * codes are carried as integer-valued doubles so [[graft.functions.VectorDot]]
    * keeps the dot product codegen'd; a production store would carry
    * `array<tinyint>` and widen on read. */
  val v4QuantizedTopk: Q = (spark, dir) => {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = fanOut(spark, t(spark, dir, "embeddings"))
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      // the 1e-12 floor only stops the div-by-zero INSIDE quantization; an
      // all-zero vector still quantizes to all-zero codes with qn = 0, so
      // its cosine is 0/0 — it has no defined direction and is excluded
      // from ranking entirely (mirrored in the oracle's nrm > 0)
      .withColumn("s",
        expr("greatest(array_max(transform(v, x -> abs(x))), cast(1e-12 as double)) / 127.0d"))
      .withColumn("q", expr("transform(v, x -> cast(floor(x / s + 0.5d) as double))"))
      .withColumn("qn", expr("sqrt(vector_dot(q, q))"))
      .withColumn("nrm", expr("sqrt(vector_dot(v, v))"))
      .filter(col("nrm") > 0)
      .localCheckpoint() // corpus + query sides share the quantization pass
    val qry = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("pv"), col("q").as("pq"),
        col("qn").as("pqn"), col("nrm").as("pn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("qcos_e6").desc, col("vec_id"))
    e.crossJoin(broadcast(qry))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("qcos_e6",
        e6(expr("vector_dot(q, pq)") / (col("qn") * col("pqn"))))
      .withColumn("cos_e6",
        e6(expr("vector_dot(v, pv)") / (col("nrm") * col("pn"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id"), col("qcos_e6"), col("cos_e6"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- V6: product-quantized ANN (asymmetric distance, 4-bit codes) --------

  /** PQ geometry: [[PqSub]] subspaces × [[PqDim]] dims each, [[PqK]]
    * sub-centroids per subspace ⇒ a 64-dim float32 vector compresses to 8
    * four-bit codes (4 B — 64× smaller). Codebook components are 6-dp
    * literals (the same engine-portability rule as the planes/centroids). */
  val PqSub = 8
  /** The ADC lookup sum Σₘ dq[m][code[m]] as an UNROLLED codegen'd long
    * sum (r15 opt, guide §4): the former
    * `aggregate(sequence(0,7), 0L, (acc,m) -> acc + ...)` fold is a
    * CodegenFallback higher-order function that also allocates the
    * sequence array per candidate row — the hot expression of every PQ
    * serve tail. Left-assoc addition over exact longs: same values. */
  lazy val adcSumSql: String = (0 until PqSub)
    .map(m => s"dq[$m][cast(code[$m] as int)]").mkString(" + ")
  val PqDim = 8
  val PqK = 16
  val PqCodebook: Seq[Seq[Seq[Double]]] =
    (0 until PqSub).map(m => (0 until PqK).map(k =>
      lcg(0xB00C0DEL + m * 1024 + k, PqDim).map(v => ((v % 1000001L) - 500000L) / 1e6)))
  /** The codebook in 1e-6 integer units — every v6 distance lives in this
    * exact domain (v5's fixed-point argument; no division anywhere, so no
    * offset is even needed: squared differences are sign-safe). */
  private[graft] val PqCodebookQ: Seq[Seq[Seq[Long]]] =
    PqCodebook.map(_.map(_.map(e6(_))))

  /** The per-(subspace, sub-centroid) squared-distance table of a 1e-6-unit
    * quantized vector column `u` — the expression both v6 and v7 score
    * with (and the ADC lookup table when kept on the query side). */
  private lazy val pqDistListsSql: String = {
    def subDist(m: Int, k: Int) =
      s"vector_l2sq(slice(u, ${m * PqDim + 1}, $PqDim), ${centLit(PqCodebookQ(m)(k))})"
    (0 until PqSub).map(m =>
      (0 until PqK).map(k => subDist(m, k)).mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
  }

  /** Product-quantization top-5 (Jégou et al., PAMI 2011): encode every
    * vector as [[PqSub]] sub-centroid indices, rank by ASYMMETRIC DISTANCE
    * — the query's exact per-(subspace, centroid) distance table is summed
    * at the db vector's codes, so ranking touches only the 4-bit codes.
    * At 100 TB this is the memory-bound ANN tier below v4's int8: the
    * scan side carries 4 B/vector + the tiny code-distance table, and the
    * ADC lookup is pure in-stage integer arithmetic.
    *
    * Determinism: vectors quantize once to 1e-6 integer units (single IEEE
    * ops per element), the codebook is an integer literal, and encode /
    * ADC / ranking are all exact integer sums — the oracle reproduces the
    * hash at any engine version. Ties: first-min sub-centroid, then
    * (adc, vec_id) ranking order. */
  val v6PqTopk: Q = (spark, dir) => {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val enc = fanOut(spark, t(spark, dir, "embeddings"))
      .select(col("vec_id"), e6Array(col("embedding")).as("u"))
      .withColumn("dl", expr(pqDistListsSql))
      .withColumn("code", expr("transform(dl, l -> array_position(l, array_min(l)) - 1)"))
      .drop("u")
      .localCheckpoint() // corpus + query sides (self-join — see d2)
    // the query side keeps its full distance table: that IS the ADC lookup
    // table PQ broadcasts (PqSub × PqK longs per query)
    val q = enc.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("dl").as("dq"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("vec_id"))
    enc.drop("dl").crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc_dist", expr(
        adcSumSql))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id"), col("adc_dist"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- V7: IVF-PQ ANN (probed cells, code-ranked candidates) ---------------

  /** The FAISS-IVFPQ composition that closes the ANN ladder: v3's inverted
    * file prunes the corpus to each query's [[IvfProbe]] best cells, v6's
    * 4-bit codes rank the survivors by asymmetric distance. This is the
    * deployed billion-vector shape: the serving index holds a cell id plus
    * 4 B of codes per vector (RAM-resident at 10⁹ vectors), scans touch
    * only probed cells (≈ probe/cells of the corpus), and the only
    * full-precision work anywhere is the query's own distance table.
    *
    * Determinism: cell assignment/probing reuse v3's literal-centroid
    * float scoring (oracle-proven portable — single-expression folds over
    * literals); everything PQ is v6's exact integer domain. Candidates
    * appear once (cells partition the corpus; the two probes are distinct
    * by construction). */
  val v7IvfPq: Q = (spark, dir) => {
    val enc = ivfAssigned(spark, dir)
      .withColumn("u", e6Array(col("v")))
      .withColumn("dl", expr(pqDistListsSql))
      .withColumn("code", expr("transform(dl, l -> array_position(l, array_min(l)) - 1)"))
      .drop("u", "v", "nrm")
      .localCheckpoint() // corpus + query sides (self-join — see d2)
    val q = enc.filter(col("vec_id") < 5)
      .withColumn("s2",
        expr("transform(s, (x, i) -> IF(i = cell - 1, CAST(-1e18 AS DOUBLE), x))"))
      .withColumn("cell2", array_position(col("s2"), array_max(col("s2"))))
      .select(col("vec_id").as("q_id"), col("dl").as("dq"),
        explode(array(col("cell"), col("cell2"))).as("probe"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("vec_id"))
    enc.select(col("vec_id"), col("cell"), col("code"))
      .join(broadcast(q), col("cell") === col("probe") && col("vec_id") =!= col("q_id"))
      .withColumn("adc_dist", expr(
        adcSumSql))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id"), col("adc_dist"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- V15: the ANN index as a persisted, incrementally-merged table -------

  /** V15: v7's IVF-PQ index MATERIALIZED through the incremental sink and
    * SERVED from the persisted table — the shape a real retrieval
    * deployment runs, where the index is the expensive artifact and new
    * vectors arrive continuously. Per-vector index rows `(vec_id, cell,
    * code)` depend only on that vector and literal centroids/codebook, so
    * building the index in batches and MERGING on vec_id composes to
    * exactly the full-corpus index: day 0 builds everything except a
    * held-back stripe, an incremental run merges the stripe PLUS a
    * redelivered overlap (the merge key must swallow the replay), and the
    * served top-k must hash-match v7's per-query-rebuild oracle verbatim.
    *
    * Scale shape: the persisted table carries ~12 B of index per vector
    * (cell + 8 codes) — the RAM-resident serving tier at 10⁹ vectors —
    * and each incremental run merges only its batch's rows (partition-
    * agnostic keyed merge). Serving reads the index table, never the
    * embeddings: the only full-precision work is the 5 query vectors'
    * own centroid scores and ADC tables, recomputed at query time from
    * their raw embeddings exactly as a serving node would. */
  val v15PersistedIvfpq: Q = (spark, dir) => {
    import graft.incremental.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("graft-annidx").toString
    try {
      def indexRows(of: DataFrame => DataFrame): DataFrame =
        of(ivfAssigned(spark, dir))
          .withColumn("u", e6Array(col("v")))
          .withColumn("dl", expr(pqDistListsSql))
          .withColumn("code", expr("transform(dl, l -> array_position(l, array_min(l)) - 1)"))
          .select(col("vec_id"), col("cell"), col("code"))
      // day 0: index everything except the held-back arrival stripe
      SnapshotStore.merge(spark, root,
        indexRows(_.filter(pmod(col("vec_id"), lit(5)) =!= 3)), Seq("vec_id"))
      // incremental run: the stripe plus a REDELIVERED overlap — the
      // keyed merge must make the replay idempotent
      SnapshotStore.merge(spark, root,
        indexRows(_.filter(pmod(col("vec_id"), lit(5)) === 3 || col("vec_id") < 7)),
        Seq("vec_id"))
      val index = SnapshotStore.read(spark, root).get
        .localCheckpoint() // materialized before the temp tree is deleted
      serveIvfpq(spark, dir, index)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  /** v7's serving shape over a PERSISTED index table: the query side
    * derives its centroid scores + ADC lookup table from its own raw
    * vector (exactly what a serving node holds at query time), the corpus
    * side reads ONLY the `(vec_id, cell, code)` index rows. Shared by
    * v15 / v16 / v15s — the build/maintenance paths differ, the serving
    * contract doesn't. */
  private def serveIvfpq(spark: SparkSession, dir: String,
                         index: DataFrame): DataFrame = {
    val q = ivfAssigned(spark, dir).filter(col("vec_id") < 5)
      .withColumn("u", e6Array(col("v")))
      .withColumn("dl", expr(pqDistListsSql))
      .withColumn("s2",
        expr("transform(s, (x, i) -> IF(i = cell - 1, CAST(-1e18 AS DOUBLE), x))"))
      .withColumn("cell2", array_position(col("s2"), array_max(col("s2"))))
      .select(col("vec_id").as("q_id"), col("dl").as("dq"),
        explode(array(col("cell"), col("cell2"))).as("probe"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("vec_id"))
    index
      .join(broadcast(q), col("cell") === col("probe") && col("vec_id") =!= col("q_id"))
      .withColumn("adc_dist", expr(
        adcSumSql))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id"), col("adc_dist"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- V16: index maintenance — DELETE retired vectors, OPTIMIZE, serve ----

  /** V16: the rest of the persisted index's lifecycle — v15 proves build +
    * incremental merge; v16 proves RETIREMENT and MAINTENANCE. Vectors
    * leave a real serving corpus continuously (takedowns, retention,
    * re-embedding), and the deployed pattern is Delta's: a row-level
    * DELETE against the index table, then OPTIMIZE to re-compact the
    * surviving rows. Day 0 materializes the full IVF-PQ index through the
    * incremental sink; a retention pass deletes the retired stripe
    * (`vec_id % 7 = 6`) with the change feed ON (so a downstream replica
    * could retract, the dag_cdc_apply pattern); OPTIMIZE rewrites the
    * survivors; serving then runs v7's exact query shape against the
    * compacted table. The oracle is the v7 rebuild restricted to the
    * surviving corpus — served-after-maintenance must equal
    * rebuilt-from-scratch, the invariant that makes in-place index
    * maintenance trustworthy at all.
    *
    * Scale shape: DELETE rewrites only matching rows (here the table is
    * unpartitioned; a date-partitioned index bounds the rewrite to
    * matching partitions), OPTIMIZE is O(surviving bytes), and serving
    * still touches only probed cells. Queries keep their RAW vectors at
    * serving time (a deleted corpus vector can still be a query), so the
    * query side recomputes its centroid scores + ADC table from the
    * embeddings exactly as v15 does. */
  val v16IndexMaintenance: Q = (spark, dir) => {
    import graft.incremental.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("graft-annidx-m").toString
    try {
      // day 0: the full corpus index through the incremental sink
      SnapshotStore.merge(spark, root,
        ivfAssigned(spark, dir)
          .withColumn("u", e6Array(col("v")))
          .withColumn("dl", expr(pqDistListsSql))
          .withColumn("code", expr("transform(dl, l -> array_position(l, array_min(l)) - 1)"))
          .select(col("vec_id"), col("cell"), col("code")),
        Seq("vec_id"))
      // retirement: row-level DELETE of the retired stripe, CDF on so a
      // downstream replica could retract the rows instead of re-diffing
      SnapshotStore.delete(spark, root,
        pmod(col("vec_id"), lit(7)) === 6, changeFeed = true)
      // maintenance: re-compact the survivors (plain OPTIMIZE)
      SnapshotStore.optimize(spark, root)
      val index = SnapshotStore.read(spark, root).get
        .localCheckpoint() // materialized before the temp tree is deleted
      // serving: identical to v15 — the query derives everything from its
      // own raw vector; the corpus side reads ONLY the compacted index
      serveIvfpq(spark, dir, index)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  /** V15s: the index maintained CONTINUOUSLY — v15's build through real
    * Structured Streaming instead of scheduled runs. Embeddings arrive as
    * three file-source micro-batches (batch 2 REDELIVERS part of batch 1:
    * the merge-keyed sink must swallow the replay), each batch encodes its
    * own index rows and merges them on vec_id
    * ([[graft.streaming.StreamingIngest.annIndexIngest]]); serving from
    * the converged table must hash-match v7's per-query-rebuild oracle
    * verbatim — proving the index ARRIVES correct continuously, not just
    * when rebuilt. Completes the retrieval lifecycle: batch build +
    * incremental merge (v15), retirement + compaction (v16), streaming
    * arrival (v15s) — all graded against the same rebuild contract. */
  val v15sStreamIndex: Q = (spark, dir) => {
    val emb = t(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files.createTempDirectory("graft-sannidx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sannidx-ckpt").toString
    val drops = java.nio.file.Files.createTempDirectory("graft-sannidx-drops").toString
    try {
      streamDrops(spark, emb.schema, drops, Seq(
        emb.filter(pmod(col("vec_id"), lit(3)) === 0),
        emb.filter(pmod(col("vec_id"), lit(3)) === 1)
          .unionByName(emb.filter(
            pmod(col("vec_id"), lit(3)) === 0 && col("vec_id") < 20)),
        emb.filter(pmod(col("vec_id"), lit(3)) === 2))) { stream =>
        graft.streaming.StreamingIngest.annIndexIngest(stream, root, ckpt)
      }
      val index = graft.incremental.SnapshotStore.read(spark, s"$root/ann_index").get
        .localCheckpoint() // materialized before the temp trees are deleted
      serveIvfpq(spark, dir, index)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(drops))
    }
  }

  /** The v7 IVF-PQ top-k rebuilt in memory over a corpus-side predicate —
    * the store-free twin [[graft.Invariants]] compares v15/v16's SERVED
    * results against at rehearsal tiers where the DuckDB oracle is out of
    * reach (all-pairs SQL cost). Kept separate from [[v7IvfPq]] so the
    * pinned v7 surface is untouched; the query side is built BEFORE the
    * predicate (queries keep their raw vectors at serving time). */
  private[graft] def ivfpqRebuild(spark: SparkSession, dir: String,
                                  corpusPred: Column): DataFrame = {
    val enc = ivfAssigned(spark, dir)
      .withColumn("u", e6Array(col("v")))
      .withColumn("dl", expr(pqDistListsSql))
      .withColumn("code", expr("transform(dl, l -> array_position(l, array_min(l)) - 1)"))
      .drop("u", "v", "nrm")
      .localCheckpoint() // corpus + query sides (self-join — see d2)
    val q = enc.filter(col("vec_id") < 5)
      .withColumn("s2",
        expr("transform(s, (x, i) -> IF(i = cell - 1, CAST(-1e18 AS DOUBLE), x))"))
      .withColumn("cell2", array_position(col("s2"), array_max(col("s2"))))
      .select(col("vec_id").as("q_id"), col("dl").as("dq"),
        explode(array(col("cell"), col("cell2"))).as("probe"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("vec_id"))
    enc.filter(corpusPred).select(col("vec_id"), col("cell"), col("code"))
      .join(broadcast(q), col("cell") === col("probe") && col("vec_id") =!= col("q_id"))
      .withColumn("adc_dist", expr(
        adcSumSql))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id"), col("adc_dist"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- V18: cell-partitioned index — partition-pruned serving --------------

  /** V18: v15's persisted index laid out FOR serving — PARTITIONED BY
    * CELL through the store (partition values = IVF cell ids). A query's
    * two probed cells are two partition values, so the serving join's
    * partition-column key lets Spark's DYNAMIC PARTITION PRUNING confine
    * the index scan to the probed cells' files (manifest-routed, no
    * listing): at 10⁹ vectors the read is probes/cells of the table, and
    * an incremental vector batch rewrites only the cells it touches
    * (partition-scoped merge) instead of the whole index. The gate
    * REQUIRES the pruning in-plan (a dynamicpruning expression on the
    * partition column — the dag_bloom_lookup in-gate discipline) and the
    * served top-k must hash-match v7's rebuild oracle verbatim: layout
    * may change cost, never results. */
  val v18PartitionedIndex: Q = (spark, dir) => {
    import graft.incremental.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("graft-annidx-p").toString
    try {
      SnapshotStore.merge(spark, root,
        ivfAssigned(spark, dir)
          .withColumn("u", e6Array(col("v")))
          .withColumn("dl", expr(pqDistListsSql))
          .withColumn("code", expr("transform(dl, l -> array_position(l, array_min(l)) - 1)"))
          .select(col("vec_id"), col("cell"), col("code")),
        Seq("vec_id"), partitionDate = Some(col("cell")))
      val index = SnapshotStore.readWithPartition(spark, root).get
      val q = ivfAssigned(spark, dir).filter(col("vec_id") < 5)
        .withColumn("u", e6Array(col("v")))
        .withColumn("dl", expr(pqDistListsSql))
        .withColumn("s2",
          expr("transform(s, (x, i) -> IF(i = cell - 1, CAST(-1e18 AS DOUBLE), x))"))
        .withColumn("cell2", array_position(col("s2"), array_max(col("s2"))))
        .select(col("vec_id").as("q_id"), col("dl").as("dq"),
          explode(array(col("cell"), col("cell2"))).as("probe"))
        .withColumn("probe_s", col("probe").cast(StringType))
      val w = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("vec_id"))
      val served = index
        .join(broadcast(q),
          col(SnapshotStore.PartCol) === col("probe_s") && col("vec_id") =!= col("q_id"))
        .withColumn("adc_dist", expr(
          adcSumSql))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("rk"), col("vec_id"), col("adc_dist"))
      require(served.queryExecution.executedPlan.toString.toLowerCase
          .contains("dynamicpruning"),
        "v18: the serving scan must be dynamic-partition-pruned to the probed cells")
      served.localCheckpoint() // pruned scan executes HERE, before the tree is deleted
        .orderBy(col("q_id"), col("rk"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- V19: binary-quantized Hamming retrieval (1-bit ANN tier) ------------

  /** Hamming shortlist size fed to the exact rerank. */
  val BinShortlist = 16
  /** Final neighbours returned per query after the rerank. */
  val BinK = 5

  /** Binary quantization — the floor of the compression ladder (float32 →
    * v4 int8 → v6 PQ 4-bit → 1 BIT per dimension, 64× smaller than
    * float32): each vector collapses to its 64 sign bits, candidates rank
    * by Hamming distance (XOR + popcount — the instruction-level kernel
    * binary-quantized stores like FAISS's `IndexBinaryFlat` and the
    * Qdrant/Weaviate "binary quantization + rescore" tier run), and a
    * [[BinShortlist]]-deep shortlist is re-scored with exact cosine, v10's
    * two-stage contract. sign(⟨q,d⟩-ish) survives binarization well on
    * centered embeddings, so Hamming top-16 ⊇ cosine top-5 in practice —
    * and the emitted pair (ham, cos_e6) makes the rerank's corrections
    * visible, v10's discipline.
    *
    * The 64 bits pack as TWO 32-bit words (`code_lo`/`code_hi`): a single
    * 64-bit word would need bit 63 — the sign bit — which DuckDB's
    * checked `<<` refuses (`1::BIGINT << 63` overflows), and real
    * popcount kernels are word-striped anyway. Hamming is then
    * `bit_count(lo⊕lo') + bit_count(hi⊕hi')` — integer end-to-end, so
    * ranking is engine-exact (no float ties), tiebreak on vec_id.
    *
    * Scale shape: the index is 8 B + id per vector (10⁹ vectors ≈ 12 GB —
    * RAM-resident beside v7's PQ codes); the corpus-side pass computes
    * codes in the scan stage (map-only, codegen'd), the Hamming stage is
    * a broadcast-query cross over 2×int words (no float array traffic),
    * the top-16 is the two-phase WindowGroupLimit shape, and ONLY the 80
    * shortlist rows (queries × 16) fetch their float vectors back — a
    * broadcast semi-fetch, so the full-precision corpus is scanned once
    * and shuffled never. */
  val v19BinaryAnn: Q = (spark, dir) => {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr("sqrt(vector_dot(v, v))"))
      .localCheckpoint() // feeds codes, shortlist fetch, and query side
    def word(lo: Int): Column = expr(
      s"""aggregate(transform(sequence(0, 31), j ->
         |  CASE WHEN v[j + $lo] > 0D THEN shiftleft(1L, j) ELSE 0L END),
         |  0L, (acc, bit) -> acc + bit)""".stripMargin)
    val coded = e.select(col("vec_id"), word(0).as("code_lo"), word(32).as("code_hi"))
    val q = coded.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("code_lo").as("q_lo"), col("code_hi").as("q_hi"))
    val wHam = Window.partitionBy(col("q_id")).orderBy(col("ham").asc, col("vec_id"))
    val shortlist = coded.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("ham",
        expr("bit_count(code_lo ^ q_lo) + bit_count(code_hi ^ q_hi)").cast("long"))
      .withColumn("hrk", row_number().over(wHam))
      .filter(col("hrk") <= BinShortlist)
      .select(col("q_id"), col("vec_id"), col("ham"))
    val qf = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val wFull = Window.partitionBy(col("q_id")).orderBy(col("cos_e6").desc, col("vec_id"))
    e.join(broadcast(shortlist), "vec_id") // float vectors: shortlist rows only
      .join(broadcast(qf), "q_id")
      .withColumn("cos_e6",
        e6(expr("vector_dot(v, qv)") / (col("nrm") * col("qn"))))
      .withColumn("rk", row_number().over(wFull))
      .filter(col("rk") <= BinK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("ham"), col("cos_e6"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- V30: trained scalar quantization (the FAISS SQ8 serving path) -------

  /** Vector dimensionality (the corpus convention v19's 2×32-bit codes
    * already assume). */
  val SqDim = 64
  /** ADC shortlist size / final top-k (v19's two-stage convention). */
  val SqShortlist = 20
  val SqK = 10

  /** V30: TRAINED per-dimension scalar quantization — FAISS's
    * `ScalarQuantizer(QT_8bit)`, the third production quantization next
    * to PQ (v20/v21) and residual-PQ (v27/v28): train per-dim [min, max]
    * over the corpus, encode every dimension as an 8-bit code on that
    * range, serve by asymmetric distance against the RECONSTRUCTED
    * midpoints, rerank the shortlist by exact cosine (v19's two-stage
    * tail). Completes the quantization triad — unlike PQ there is no
    * codebook, just 2·dim trained bounds, so encode/serve are pure
    * per-dimension arithmetic (no nearest-centroid search), the memory
    * is dim bytes/vector, and the trade is resolution-per-dim vs PQ's
    * resolution-per-subspace.
    *
    * Exact-integer discipline end to end: inputs quantize once to 1e-4
    * units (codes are 8-bit — input resolution far above code
    * resolution; e4 keeps the 510-scaled squared sums < 2⁶³); the
    * midpoint reconstruction runs in 510-scaled units so
    * `510·x̂ = 510·mn + (2c+1)·span` stays integer (a zero-span
    * dimension reconstructs exactly — the div guard and the recon span
    * are SEPARATE so the guard can't bias it); the ADC is an integer
    * squared-L2; only the final rerank touches doubles, with v1's
    * per-row floor. Both engines replay train → encode → serve
    * bit-for-bit — a drifting bound, a misaligned dim or a tie-break
    * mismatch anywhere reds the hash.
    *
    * Scale shape: training is ONE map-side-combined posexplode agg into
    * dim cells (the v5-sanctioned metadata collect — 64 rows); the
    * trained bounds ride into the plan as broadcast literals (v2's
    * planes), so encode + ADC are map-only over the corpus; the
    * shortlist is a WindowGroupLimit top-20; the float vectors are
    * fetched for the 20-row shortlist only (v19's rerank join). */
  val v30TrainedSq: Q = (spark, dir) => {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val enc = fanOut(spark, t(spark, dir, "embeddings"))
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("u", expr("transform(v, x -> cast(floor(x * 10000.0d + 0.5d) as bigint))"))
      .withColumn("nrm", expr("sqrt(vector_dot(v, v))"))
      .localCheckpoint() // feeds training, corpus codes, query side, rerank fetch
    val dims = enc.select(posexplode(col("u")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("d")).collect() // dim-sized: the v5-sanctioned metadata collect
    val mn = dims.map(_.getLong(1))
    val span = dims.map(r => r.getLong(2) - r.getLong(1))
    val mnSql = mn.mkString("array(", "L,", "L)")
    val spanSql = span.mkString("array(", "L,", "L)")
    val divSql = span.map(s => math.max(s, 1L)).mkString("array(", "L,", "L)")
    val coded = enc.withColumn("r510", expr(
      s"""transform(sequence(0, ${SqDim - 1}), d ->
         |  510L * element_at($mnSql, d + 1) +
         |  (2L * (((u[d] - element_at($mnSql, d + 1)) * 255L)
         |         div element_at($divSql, d + 1)) + 1L)
         |  * element_at($spanSql, d + 1))""".stripMargin))
    val qs = enc.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        expr("transform(u, x -> 510L * x)").as("qu"))
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc_dist").asc, col("vec_id"))
    val shortlist = coded.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc_dist", expr("vector_l2sq(qu, r510)"))
      .withColumn("srk", row_number().over(wAdc))
      .filter(col("srk") <= SqShortlist)
      .select(col("q_id"), col("vec_id"), col("adc_dist"))
    val qf = enc.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val wFull = Window.partitionBy(col("q_id")).orderBy(col("cos_e6").desc, col("vec_id"))
    enc.join(broadcast(shortlist), "vec_id") // float vectors: shortlist rows only
      .join(broadcast(qf), "q_id")
      .withColumn("cos_e6",
        e6(expr("vector_dot(v, qv)") / (col("nrm") * col("qn"))))
      .withColumn("rk", row_number().over(wFull))
      .filter(col("rk") <= SqK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("adc_dist"), col("cos_e6"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- V17: reciprocal-rank fusion (hybrid retrieval ensembling) -----------

  /** RRF constant k = 60 (Cormack et al. 2009's convention). */
  val RrfK = 60
  /** Shared 1e9-scaled discount literals `round(1e9 / (k + r))` for ranks
    * 1..10 — like v13's NDCG discounts, the VALUES are a convention both
    * engines read from the same table, so the fused score is an exact
    * integer sum with no floating division anywhere. */
  val RrfDisc: Seq[Long] = (1 to 10).map(r => math.floor(1e9 / (RrfK + r) + 0.5).toLong)

  /** Reciprocal Rank Fusion of two retrieval paths — the hybrid-search
    * staple (Elastic/Vespa/OpenSearch all ship exactly this): each
    * retriever contributes `1/(k + rank)` for the documents it returned,
    * missing documents contribute 0, and the ensemble reranks by the
    * sum. Fused here: v1's exact-cosine top-10 and v2's sign-LSH top-5 —
    * COMPOSING the two proven operators (the v12/v13 eval discipline), so
    * the fused list is the ensemble of the actual serving paths. Emits
    * both source ranks so the fusion's corrections are visible.
    *
    * Scale shape: both inputs are top-k outputs (|queries| × k rows);
    * everything past the component scans is broadcast-join-sized. The
    * full-outer on (q_id, vec_id) is the fusion's defining shape — a doc
    * found by either path must be scorable. */
  val v17RrfFusion: Q = (spark, dir) => {
    val discArr = RrfDisc.mkString("array(", "L,", "L)")
    val a = v1CosineTopk(spark, dir)
      .select(col("q_id"), col("vec_id"), col("rk").as("rk_exact"))
    val b = v2AnnLsh(spark, dir)
      .select(col("q_id"), col("vec_id"), col("rk").as("rk_lsh"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("rrf_e9").desc, col("vec_id"))
    a.join(b, Seq("q_id", "vec_id"), "full_outer")
      // the null guard must be an explicit CASE: this Spark build's
      // ElementAt codegen reads the value slot of an outer-join-null
      // index (null bit set, slot garbage) and returns a wrong element
      // instead of NULL — coalesce(element_at(arr, nullcol), 0) silently
      // added disc(10) to every unmatched side until the oracle caught it
      .withColumn("rrf_e9",
        expr(s"(CASE WHEN rk_exact IS NULL THEN 0L" +
          s" ELSE element_at($discArr, rk_exact) END) + " +
          s"(CASE WHEN rk_lsh IS NULL THEN 0L" +
          s" ELSE element_at($discArr, rk_lsh) END)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id"),
        col("rk_exact"), col("rk_lsh"), col("rrf_e9"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- V8: BM25 lexical retrieval (the ANN family's sparse twin) -----------

  /** Literal retrieval queries: a handful of multi-term bags over the
    * corpus vocabulary — the fixed query side every lexical-retrieval
    * benchmark broadcasts. Shared with the DuckDB oracle verbatim. */
  val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join", "merge"),
    2 -> Seq("window", "sort", "order"),
    3 -> Seq("stream", "batch", "spark"))
  val Bm25K = 5

  /** BM25 top-[[Bm25K]] document retrieval for [[Bm25Queries]] — the
    * sparse/lexical twin of the v1–v7 dense-retrieval ladder (a curation
    * stack needs both: ANN for semantic near-neighbors, BM25 for keyword
    * recall and hard-negative mining).
    *
    * Scoring is textbook BM25 (k1=1.2, b=0.75) carried out ENTIRELY in
    * fixed-point integer arithmetic so the ranking — and the hashed score
    * itself — is bit-identical in any engine:
    *  - idf surrogate: the rational (N−df+½)/(df+½) = (2N−2df+1)/(2df+1)
    *    WITHOUT the textbook log — same determinism-driven swap as t9's
    *    N/df (log is 1-ulp libm territory; the rational is exact). Scaled
    *    to 1e6: `idf6 = (2N−2df+1)·1e6 div (2df+1)`.
    *  - tf normalization with k1=6/5, b=3/4 and avgdl=T/N cleared of all
    *    fractions: tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) =
    *    44·tf·T / (20·tf·T + 6·T + 18·dl·N), scaled to 1e6 by integer
    *    division (its exact value is ≤ 2.2e6).
    *  - per-term contribution `(idf6 · tfn6) div 1e6`, summed as longs —
    *    exact and order-independent under distributed aggregation.
    *    Overflow envelope: idf6 ≤ (2N+1)·1e6 and tfn6 ≤ 2.2e6 keep the
    *    product under 2^63 while N < 4e9; the tfn6 numerator 44·tf·T·1e6
    *    needs tf·T < 2e11 (at larger corpora drop the scale to 1e3 or lift
    *    these four expressions to DECIMAL(38,0) — same arithmetic).
    *
    * Scale shape: tokenize+count is one explode into a map-side-combined
    * hash agg (the shuffle carries (doc, term, tf), never the token
    * stream), with dl riding the group key (functionally dependent on
    * doc_id, so it adds no grouping cost). The query side prunes FIRST —
    * a broadcast inner join on the literal term set cuts the posting
    * table to the query terms' postings before anything else touches it;
    * df arrives by a vocabulary-sized (Zipf-bounded) broadcast and N/T by
    * a 1-row broadcast cross join, so the only other shuffle is the final
    * per-(query, doc) agg over matched postings. Ranking is a window over
    * ≤ |queries|·|matched docs| rows. At 100 TB: postings shard by term
    * hash, every join stays broadcast, nothing driver-side scales with
    * the corpus. */
  val v8Bm25: Q = (spark, dir) => {
    import spark.implicits._
    val S = 1000000L
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .withColumn("dl", size(col("w")).cast(LongType))
    // (N, T) in one pass; 1-row broadcast cross join (the watermark-scalar
    // pattern) keeps the corpus constants in-plan
    val nt = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tokens"))
    val qterms = Bm25Queries
      .flatMap { case (q, ts) => ts.map(tm => (q, tm)) }
      .toDF("query_id", "term")
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      // feeds BOTH df and the retrieval join — see t9 (and distributedCumsum)
      .localCheckpoint()
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score6").desc, col("doc_id"))
    tf.join(broadcast(qterms), "term") // prune to query-term postings first
      .join(broadcast(dft), "term")
      .crossJoin(broadcast(nt))
      .withColumn("idf6",
        expr(s"((2 * n_docs - 2 * df + 1) * ${S}L) div (2 * df + 1)"))
      .withColumn("tfn6",
        expr(s"(44 * tf * t_tokens * ${S}L) div (20 * tf * t_tokens + 6 * t_tokens + 18 * dl * n_docs)"))
      .withColumn("contrib6", expr(s"(idf6 * tfn6) div ${S}L"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("contrib6")).as("score6"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= Bm25K)
      .select(col("query_id"), col("rk"), col("doc_id"), col("n_hit"), col("score6"))
      .orderBy(col("query_id"), col("rk"))
  }

  // ---- V9: multi-vector MaxSim late interaction (ColBERT-style) ------------

  val MaxSimK = 5

  /** ColBERT-style late interaction (Khattab & Zaharia 2020,
    * arXiv:2004.12832): query and document are BAGS of sub-vectors and
    * relevance is Σ_i max_j ⟨q_i, d_j⟩ — each query part matches its best
    * document part, which is what distinguishes reranking from the v1–v7
    * single-vector ladder. Here every 64-d embedding is read as its
    * [[PqSub]]×[[PqDim]] sub-vector bag (the v6 geometry), queries are
    * `vec_id < 3`, and each component is quantized once to 1e-3 integer
    * units (`floor(x·1000 + 0.5)` — a single IEEE multiply+floor, the
    * v4/v5/v6 pattern), so every dot, max and sum after that is exact
    * long arithmetic in 1e-6 units: no engine's float-summation order can
    * perturb the ranking or the hashed score.
    *
    * Scale shape: the 3×64 quantized query bag broadcasts; the corpus is
    * scanned once, scored in place (512 integer multiplies per pair, all
    * inside the scan stage) and reduced by the o2 two-phase top-k window.
    * In a serving stack this is the RERANK tier — it composes behind
    * v2/v3/v7's candidate generation exactly as d5's verify step does —
    * but the operator itself is the exact full-scan ground truth, v1's
    * role in the dense ladder. */
  val v9MaxsimRerank: Q = (spark, dir) => {
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000.0 + 0.5) as bigint))")
          .as("u"))
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("u").as("qu"))
    val S = PqSub
    val D = PqDim
    val score = expr(
      s"""aggregate(sequence(0, ${S - 1}), 0L, (acc, i) -> acc +
         |  array_max(transform(sequence(0, ${S - 1}), j ->
         |    aggregate(sequence(0, ${D - 1}), 0L,
         |      (a, k) -> a + qu[i * $D + k] * u[j * $D + k]))))""".stripMargin)
    val w = Window.partitionBy(col("q_id")).orderBy(col("maxsim6").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("maxsim6", score)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MaxSimK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("maxsim6"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- V10: Matryoshka two-stage retrieval (prefix filter + full rerank) ---

  /** Leading dims scored in the cheap first pass. */
  val MatDims = 16
  /** Shortlist size the full-precision rerank receives per query. */
  val MatShortlist = 20
  /** Final neighbours returned per query. */
  val MatK = 5

  /** Two-stage dense retrieval over nested ("Matryoshka", Kusupati et al.
    * 2022, arXiv:2205.13147) representations: stage 1 ranks the corpus by
    * cosine over only the first [[MatDims]] of 64 dimensions and keeps a
    * [[MatShortlist]]-deep shortlist per query; stage 2 re-scores JUST the
    * shortlist with the full vector and returns the top [[MatK]]. The
    * operator emits both scores, so the output exhibits the re-ordering
    * the full-precision pass exists to correct.
    *
    * Scale shape — the point is WHERE the bytes live: the stage-1 frame
    * carries a 4×-narrower prefix projection (at 100 TB the prefix tier is
    * its own column/index file; here column pruning inside the same scan),
    * so the corpus-sized cross-score touches a quarter of the vector
    * bytes. Full 64-d vectors are read only by the shortlist fetch — a
    * broadcast semi-equi-join of |queries|×[[MatShortlist]] ids INTO the
    * corpus scan — so full-precision work is shortlist-sized, never
    * corpus-sized. Both rank stages are the o2 two-phase top-k (partial
    * WindowGroupLimit heaps before any shuffle). The same plan serves
    * 1000 executors: broadcast query side, broadcast shortlist, no
    * corpus shuffle except the two bounded rank exchanges. */
  val v10MatryoshkaRerank: Q = (spark, dir) => {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val full = t(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr("sqrt(vector_dot(v, v))"))
    val prefix = full
      .select(col("vec_id"), expr(s"slice(v, 1, $MatDims)").as("p"))
      .withColumn("pn", expr("sqrt(vector_dot(p, p))"))
    val qp = prefix.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("p").as("qp"), col("pn").as("qpn"))
    val wPre = Window.partitionBy(col("q_id")).orderBy(col("pcos_e6").desc, col("vec_id"))
    val shortlist = prefix.crossJoin(broadcast(qp))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("pcos_e6", e6(expr("vector_dot(p, qp)") / (col("pn") * col("qpn"))))
      .withColumn("prk", row_number().over(wPre))
      .filter(col("prk") <= MatShortlist)
      .select(col("q_id"), col("vec_id"), col("pcos_e6"))
    val qf = full.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val wFull = Window.partitionBy(col("q_id")).orderBy(col("cos_e6").desc, col("vec_id"))
    full.join(broadcast(shortlist), "vec_id") // full vectors: shortlist rows only
      .join(broadcast(qf), "q_id")
      .withColumn("cos_e6", e6(expr("vector_dot(v, qv)") / (col("nrm") * col("qn"))))
      .withColumn("rk", row_number().over(wFull))
      .filter(col("rk") <= MatK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("pcos_e6"), col("cos_e6"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- V11: filtered ANN (metadata predicate + similarity, pre-filtered) ---

  /** Neighbours returned per filtered query. */
  val FannK = 5
  /** Target label per query id q: `(q + 3) % 10` — deterministic, shared
    * with the oracle; the resulting literal label set prunes the scan. */
  val FannLabels: Seq[Int] = (0 until 5).map(q => (q + 3) % 10)

  /** Metadata-FILTERED similarity search — the operator every vector
    * store grows next (pgvector/FAISS+filter/Milvus "filtered search"):
    * each query wants its top-[[FannK]] neighbours AMONG vectors carrying
    * a target label only. This is the PRE-filter strategy: the label
    * predicate applies before any scoring, so recall over the filtered
    * set is exact — post-filtering an unfiltered ANN top-k instead can
    * return < k or miss qualifying neighbours entirely when the filter is
    * selective.
    *
    * Scale shape: the literal label set pushes into the parquet scan
    * (PushedFilters — row groups without matching labels never
    * decompress; plan-pinned), and the query side joins on `label =
    * want`, an EQUI-join, so each query scores exactly its own label's
    * candidates — there is no query × corpus cross stage at all, unlike
    * v1's deliberate baseline cross. Broadcast query side, two-phase
    * top-k, one bounded rank shuffle: the filtered path is structurally
    * CHEAPER than unfiltered brute force, as it should be. */
  val v11FilteredAnn: Q = (spark, dir) => {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val full = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr("sqrt(vector_dot(v, v))"))
    val q = full.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        ((col("vec_id") + 3) % 10).as("want"), col("v").as("qv"),
        col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_e6").desc, col("vec_id"))
    full
      .filter(col("label").isin(FannLabels: _*)) // pushed to the scan
      .join(broadcast(q), col("label") === col("want"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_e6", e6(expr("vector_dot(v, qv)") / (col("nrm") * col("qn"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= FannK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("label"), col("cos_e6"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- V12: ANN recall evaluation (index-quality monitoring) ---------------

  /** Recall@5 of the sign-LSH ANN (v2) against the exact brute-force
    * baseline (v1), per query — the evaluation operator an ANN deployment
    * runs continuously (FAISS/ScaNN benchmarks report exactly this):
    * recall = |ANN top-k ∩ exact top-k| / k, in 1e-6 fixed point. The
    * operator COMPOSES the two proven retrieval operators rather than
    * re-deriving either, so the measured number is the recall of the
    * actual serving path, not of a reimplementation.
    *
    * Scale shape: both inputs are top-k outputs — |queries| × k rows —
    * so everything past the component scans is broadcast-join-sized. In
    * production the query set is a sample; the evaluation cost is the two
    * retrieval passes, and the verdict (per-query + aggregate recall)
    * is what decides nprobe/band re-tuning before anyone ships an
    * index. */
  val v12RecallEval: Q = (spark, dir) => {
    val exact = v1CosineTopk(spark, dir).filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id"))
    val ann = v2AnnLsh(spark, dir)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    exact.join(broadcast(ann), Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k_exact"), count(col("hit")).as("n_hit"))
      .withColumn("recall6", expr("n_hit * 1000000L div k_exact"))
      .orderBy(col("q_id"))
  }

  // ---- V13: ranking-quality eval (MRR / NDCG) ------------------------------

  /** MRR@5 and binary-relevance NDCG@5 of the LSH ANN against the exact
    * top-5 — the ranking-quality half of the eval suite (v12 measures set
    * recall; a result can have perfect recall and still rank the best
    * neighbors last, which these metrics expose).
    *
    * Integer determinism: the 1/log2(i+1) discount weights are SHARED
    * 1e9-scaled integer literals (their exact values are a convention,
    * not a computation — both engines use the same constants), so the DCG
    * fold is an integer sum: order-independent under any parallelism and
    * bit-identical across engines, the v5/k-means fixed-point rule
    * applied to IR metrics. `mrr6` = 1e6 div (first relevant rank),
    * `ndcg6` = 1e6-scaled DCG/IDCG with ideal = all `min(k_exact, 5)`
    * relevant ranked first. Scale shape: two per-query top-5 frames
    * joined on (q_id, vec_id) and folded — metric cost is O(queries·k),
    * independent of corpus size. */
  val v13RankMetrics: Q = (spark, dir) => {
    val w9 = "array(1000000000L, 630929754L, 500000000L, 430676558L, 386852807L)"
    val ideal9 = "array(1000000000L, 1630929754L, 2130929754L, 2561606312L, 2948459119L)"
    val exact = v1CosineTopk(spark, dir).filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id"))
    val ke = exact.groupBy(col("q_id")).agg(count(lit(1)).as("k_exact"))
    val ann = v2AnnLsh(spark, dir).select(col("q_id"), col("vec_id"), col("rk"))
    ann.join(broadcast(exact.withColumn("rel", lit(1L))), Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(
        sum(when(col("rel").isNotNull,
          expr(s"element_at($w9, cast(rk as int))")).otherwise(lit(0L))).as("dcg9"),
        min(when(col("rel").isNotNull, col("rk"))).as("first_hit"))
      .join(broadcast(ke), "q_id")
      .withColumn("mrr6", coalesce(expr("1000000L div first_hit"), lit(0L)))
      .withColumn("ndcg6", expr(
        s"dcg9 * 1000000L div element_at($ideal9, cast(least(k_exact, 5) as int))"))
      .select(col("q_id"), col("mrr6"), col("ndcg6"))
      .orderBy(col("q_id"))
  }

  // ---- V5: k-means clustering (deterministic distributed Lloyd) ------------

  /** One trained centroid as a SQL `array<bigint>` literal — the one way
    * every Lloyd tier's collected centroids re-enter a plan. */
  private def centLit(c: Seq[Long]) =
    c.mkString("cast(array(", ",", ") as array<bigint>)")
  /** Squared L2 distance of the offset-unit vector column `u` to one
    * quantized centroid, as a single codegen'd higher-order expression. */
  private def kmDistExpr(c: Seq[Long]) = expr(
    // r15 opt (guide §4): the interpreted aggregate(zip_with(...)) fold
    // is CodegenFallback — vector_l2sq is the codegen'd exact twin
    s"vector_l2sq(u, ${centLit(c)})")

  /** The one quantize pass (vec_id, offset-unit u) every coarse Lloyd
    * training and its report read — checkpointed so no iteration rescans. */
  private[queries] def kmQuantized(spark: SparkSession, dir: String): DataFrame =
    fanOut(spark, t(spark, dir, "embeddings"))
      .select(col("vec_id"), e6Array(col("embedding"), KmOff).as("u"))
      .localCheckpoint()

  /** The quantized [[IvfCentroids]] seeds as iteration-0 Lloyd state. */
  private[queries] lazy val kmSeedState: Seq[(Int, Seq[Long])] =
    (1 to IvfCells).zip(IvfCentroids.map(_.map(e6(_) + KmOff)))

  /** Adds c$tag (assigned cell, lowest id on ties) and d$tag (rounded
    * 1e-6-unit squared distance to it) against one iteration's state. */
  private def kmAssign(state: Seq[(Int, Seq[Long])], tag: String)(df: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val ids = array(state.map { case (id, _) => lit(id) }: _*)
    df.withColumn(s"s$tag", array(state.map { case (_, c) => kmDistExpr(c) }: _*))
      .withColumn(s"p$tag",
        array_position(col(s"s$tag"), array_min(col(s"s$tag"))).cast(IntegerType))
      .withColumn(s"c$tag", element_at(ids, col(s"p$tag")))
      .withColumn(s"d$tag", expr(s"(element_at(s$tag, p$tag) + 500000L) div 1000000L"))
      .drop(s"s$tag", s"p$tag")
  }

  /** Lloyd's centroid update, shared by the coarse and the PQ trainings:
    * per group of the int `keys` (cell, or subspace and code), exact
    * integer sums of the offset-unit array column `v` over its `dims`
    * dims, decoded as the HALF_UP integer mean `(2s + n) div 2n` (s and
    * n are positive, so truncating division is floor). The collect is the
    * ≤ groups×dims per-iteration centroid broadcast. Returns (key values,
    * centroid) in ascending key order, so a first-min assignment over the
    * list breaks ties to the lowest key. */
  private[graft] def lloydUpdate(df: DataFrame, keys: Seq[Column], v: String, dims: Int)
      : Seq[(Seq[Int], Seq[Long])] = {
    // r15 opt (guide §2.3): per-dim sums as codegen'd aggregates over the
    // array column instead of a posexplode through the hash agg
    val aggs = count(lit(1)).as("n") +: (0 until dims).map(i => sum(col(v)(i)).as(s"s$i"))
    val nk = keys.size
    val rows = df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*).collect().toSeq
    rows.map[(Seq[Int], Seq[Long])] { row =>
      val n = row.getLong(nk)
      ((0 until nk).map(row.getInt),
        (0 until dims).map(i => (2 * row.getLong(nk + 1 + i) + n) / (2 * n)))
    }.sortBy(_._1)(Ordering.Implicits.seqOrdering[Seq, Int])
  }

  /** One coarse Lloyd step: assign `u` under `state`, then [[lloydUpdate]]. */
  private[queries] def lloydNext(u: DataFrame, state: Seq[(Int, Seq[Long])])
      : Seq[(Int, Seq[Long])] =
    lloydUpdate(kmAssign(state, "x")(u), Seq(col("cx")), "u", 64)
      .map { case (k, c) => (k.head, c) }

  /** The coarse quantizer after `iters` Lloyd steps from [[kmSeedState]]:
    * one step for v22-v24 and v27/v28, [[V25Iters]] for v26 and v29. */
  private def kmTrained(spark: SparkSession, dir: String, iters: Int): Seq[(Int, Seq[Long])] = {
    val u = kmQuantized(spark, dir)
    (1 to iters).foldLeft(kmSeedState)((st, _) => lloydNext(u, st))
  }

  /** K-means over the embedding corpus — the clustering primitive behind
    * semantic curation (SemDeDup's cells, diversity sampling, topic
    * balancing). Two Lloyd iterations from the [[IvfCentroids]] literal
    * seeds; per cluster: member count, how many vectors switched cells in
    * the second assignment, and the inertia (Σ‖v−c‖²) in exact 1e-6 units.
    *
    * Distributed shape (the textbook scalable Lloyd): each iteration is one
    * map-side-combined aggregation — vectors score K centroids in-stage
    * (map-only), the update groups micro-unit integer sums by (cell, dim),
    * and only the K×64 centroid table ever reaches the driver, exactly the
    * broadcast every cluster k-means performs per iteration. Nothing
    * driver-side scales with the corpus.
    *
    * Determinism (why an oracle can hash-match an iterative algorithm):
    * this is FIXED-POINT k-means. Each vector is quantized ONCE to 1e-6
    * integer units ([[e6]] — per-element single IEEE ops, bit-identical in
    * any engine) plus a +[[KmOff]] shift that keeps every
    * quantity non-negative so floor/truncating integer division agree
    * everywhere; distances are translation-invariant so the shift never
    * shows. From there EVERYTHING — assignment distances, the Lloyd
    * centroid update (HALF_UP integer mean `(2s+n) div 2n`), re-assignment,
    * and the 1e-6-unit inertia — is pure integer arithmetic, immune to any
    * engine's float-summation order or rounding policy. Ties break to the
    * lowest cell id. */
  val v5Kmeans: Q = (spark, dir) => {
    val u = kmQuantized(spark, dir)
    val trained = lloydNext(u, kmSeedState)
    kmAssign(trained, "1")(kmAssign(kmSeedState, "0")(u))
      .groupBy(col("c1").as("cell"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(when(col("c1") =!= col("c0"), 1L).otherwise(0L)).as("n_moved"),
        sum(col("d1")).as("inertia_u"))
      .orderBy(col("cell"))
  }

  // ---- V20: PQ codebook training (per-subspace Lloyd refinement) -----------

  /** One Lloyd refinement of [[PqCodebookQ]] in OFFSET 1e-6 units: returns
    * the assignment-0 frame (vec_id, m, su, code0 — localCheckpointed)
    * and, per subspace, the surviving (code, trained centroid) list in
    * ascending code order. Shared by v20 (the training report) and v21
    * (serving on the trained codebook) — one training, no drift. The
    * collect is the per-iteration centroid broadcast, ≤ Sub·K·Dim rows
    * (v5's sanctioned metadata collect). */
  private[queries] def pqTrainLloyd(spark: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, Seq[(Int, Seq[Long])])]) = {
    val sub = fanOut(spark, t(spark, dir, "embeddings"))
      .select(col("vec_id"), e6Array(col("embedding"), KmOff).as("u"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(PqSub - 1))).as("m"), col("u"))
      .withColumn("su", expr(s"slice(u, m * $PqDim + 1, $PqDim)"))
      .drop("u")
    pqLloydStepFrom(sub, PqCodebookQ.map(_.map(_.map(_ + KmOff))))
  }

  /** One exact-integer Lloyd step of an ARBITRARY per-subspace seed
    * codebook over an already-sliced `(vec_id, m, su)` frame —
    * [[pqTrainLloyd]]'s body with the seeds injected, so v27 can train
    * in RESIDUAL space with data-derived seeds through the identical
    * arithmetic (one step implementation, no drift). Seeds are in the
    * same offset units as `su`. */
  private def pqLloydStepFrom(sub: DataFrame, seeds: Seq[Seq[Seq[Long]]])
      : (DataFrame, Seq[(Int, Seq[(Int, Seq[Long])])]) = {
    graft.functions.GraftFunctions.ensureRegistered(sub.sparkSession)
    val cbSql = seeds.map(_.map(centLit).mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val nCodes = seeds.head.size
    val a0 = sub
      .withColumn("s", expr(
        s"""transform(sequence(1, $nCodes), k ->
           |  vector_l2sq(su, element_at(element_at($cbSql, m + 1), k)))""".stripMargin))
      .withColumn("code0", array_position(col("s"), array_min(col("s"))).cast(IntegerType))
      .drop("s")
      .localCheckpoint() // shared by the update agg and the reassignment
    val byM = lloydUpdate(a0, Seq(col("m"), col("code0")), "su", PqDim)
      .groupBy(_._1.head).toSeq.sortBy(_._1)
      .map { case (m, cs) => m -> cs.map { case (k, c) => (k(1), c) } }
    (a0, byM)
  }

  /** The [[PqCodebook]] literals stand in for TRAINED sub-quantizers
    * (v6's doc note: "a real deployment trains them"); v20 IS that
    * training — one exact-integer Lloyd refinement per subspace, v5's
    * machinery applied to each of the [[PqSub]] 8-dim slices: offset
    * 1e-6-unit subvectors (all-positive, so trunc-div ≡ floor-div — the
    * v5 argument), assign to the nearest initial sub-centroid, recompute
    * centroids as HALF_UP integer means, reassign, and emit per
    * (subspace, code): member count, moved count, and the summed
    * distortion — the quantities a codebook-training loop monitors for
    * convergence. Lloyd's descent property (distortion never increases)
    * is pinned in-spec against the initial assignment's distortion.
    *
    * Scale shape: slicing + both assignment passes are map-only over the
    * scan (the codebook is a literal / collected-means broadcast of
    * cells×dims ≤ 1024 integers — v5's sanctioned metadata collect); the
    * update is one map-side-combined (m, code, dim) aggregate — ≤
    * [[PqSub]]·[[PqK]]·[[PqDim]] output cells regardless of corpus size.
    * Every surface is exact integer, so the oracle retrains the codebook
    * bit-for-bit. */
  val v20PqTrain: Q = (spark, dir) => {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val (a0, byM) = pqTrainLloyd(spark, dir)
    val codes1Sql = byM.map { case (_, cs) =>
      cs.map(_._1.toString).mkString("array(", ",", ")")
    }.mkString("cast(array(", ",", ") as array<array<int>>)")
    val cents1Sql = byM.map { case (_, cs) =>
      cs.map(c => centLit(c._2)).mkString("array(", ",", ")")
    }.mkString("array(", ",", ")")
    a0
      .withColumn("s1", expr(
        s"""transform(element_at($cents1Sql, m + 1), c ->
           |  vector_l2sq(su, c))""".stripMargin))
      .withColumn("p", array_position(col("s1"), array_min(col("s1"))).cast(IntegerType))
      .withColumn("code1", expr(s"element_at(element_at($codes1Sql, m + 1), p)"))
      // 1e-12-unit squared distance → 1e-6 units, floor(x+0.5) per vector
      .withColumn("d2u", expr("(element_at(s1, p) + 500000L) div 1000000L"))
      .groupBy(col("m"), col("code1").as("code"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("code1") =!= col("code0"), 1L).otherwise(0L)).as("n_moved"),
        sum(col("d2u")).as("inertia_u"))
      .orderBy(col("m"), col("code"))
  }

  /** Per-subspace distance lists of the offset-unit `u` column to a
    * TRAINED codebook (v20's `byM`), as one nested-array SQL expression:
    * `dl[m][k]` = squared L2 of subvector m to the k-th surviving
    * trained sub-centroid. Shared by v21 and v22's serving paths. */
  private def pqDistSql(byM: Seq[(Int, Seq[(Int, Seq[Long])])],
                        vcol: String = "u"): String =
    byM.map { case (m, cs) =>
      cs.map { case (_, cent) =>
        s"vector_l2sq(slice($vcol, ${m * PqDim + 1}, $PqDim), ${centLit(cent)})"
      }.mkString("array(", ",", ")")
    }.mkString("array(", ",", ")")

  /** V21: the closed loop — v6's ADC serving on v20's TRAINED codebook.
    * Train (one Lloyd refinement per subspace), re-encode every vector
    * against the trained sub-centroids (ragged lists — empty codes
    * dropped; serving indexes by position within each subspace's
    * surviving-code list, so original code ids never matter), and rank
    * by asymmetric distance exactly as v6 does. Proves
    * train → encode → serve COMPOSES: the oracle retrains end-to-end and
    * then replays the encode/ADC/rank, so a drifting centroid, a
    * misaligned code index or a tie-break mismatch anywhere in the loop
    * reds the hash.
    *
    * Scale shape: v6's — the scan side carries codes only, the query's
    * distance table is the broadcast ADC lookup, the trained codebook is
    * the v5-sanctioned metadata collect. Distances run in OFFSET units
    * (offset-invariant for squared differences), so all arithmetic stays
    * all-positive exact integer. */
  val v21TrainedPqServe: Q = (spark, dir) => {
    val (_, byM) = pqTrainLloyd(spark, dir)
    val distSql = pqDistSql(byM)
    val enc = fanOut(spark, t(spark, dir, "embeddings"))
      .select(col("vec_id"), e6Array(col("embedding"), KmOff).as("u"))
      .withColumn("dl", expr(distSql))
      .withColumn("code", expr("transform(dl, l -> array_position(l, array_min(l)) - 1)"))
      .drop("u")
      .localCheckpoint() // corpus + query sides (self-join — see d2)
    val q = enc.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("dl").as("dq"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("vec_id"))
    enc.drop("dl").crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc_dist", expr(
        adcSumSql))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id"), col("adc_dist"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** V22: the FULLY-TRAINED IVF-PQ serving path — no literal quantizer
    * anywhere between a query and its answer. v21 closed the codebook
    * loop but still served over the whole corpus (plain ADC); v3/v7/v15/
    * v18 route through cells but assign against the hard-coded
    * [[IvfCentroids]]. v22 composes BOTH trainings: the coarse cells are
    * one exact-integer Lloyd refinement from [[kmSeedState]] (v5's step —
    * the literals survive only as k-means SEEDS, the standard role of an
    * init), the codebook is [[pqTrainLloyd]]'s (v20), and serving is the
    * real IVF-PQ read path — assign every vector to its nearest TRAINED
    * cell, a query probes its [[IvfProbe]] best TRAINED cells, and only
    * the probed cells' members rank by asymmetric distance over the
    * TRAINED codebook. The oracle retrains coarse + codebook end-to-end
    * and replays assign → probe → ADC → rank, so a drifting centroid in
    * EITHER quantizer, a probe tie-break mismatch, or a misaligned code
    * index reds the hash.
    *
    * Scale shape: three embeddings scans (coarse train, codebook train,
    * encode) — the phases a real index build pays; both trainings end in
    * a ≤ cells×dims metadata collect (the sanctioned per-iteration
    * centroid broadcast); the encode scan computes cell AND codes
    * map-side in one pass; serving joins the corpus to a BROADCAST
    * (queries × probe)-sized frame on the cell key, so the candidate
    * stream is |probed cells| of the corpus — never corpus × queries
    * (v21's cross join) and never a shuffle of the corpus itself.
    * Everything is exact integer end-to-end (the v5 argument). */
  val v22TrainedIvfServe: Q = (spark, dir) => {
    val (cellIds, encode) = trainedEncoder(spark, dir)
    val enc = encode(fanOut(spark, t(spark, dir, "embeddings")))
      .drop("u", "p")
      .localCheckpoint() // corpus + query sides (self-join — see d2)
    ivfServeFrom(enc, cellIds)
  }

  /** Encoder against an ARBITRARY trained coarse state + PQ codebook:
    * adds (u, ks, p, cell, dl, code) to an embeddings-shaped frame
    * (v22's per-vector encode, verbatim). Shared by [[trainedEncoder]]
    * (1-step coarse training) and v26 (converged coarse training). */
  private[queries] def quantEncoder(byCell: Seq[(Int, Seq[Long])],
                           byM: Seq[(Int, Seq[(Int, Seq[Long])])])
      : (Column, DataFrame => DataFrame) = {
    val cellIds = array(byCell.map { case (id, _) => lit(id) }: _*)
    val encode = (src: DataFrame) => {
      graft.functions.GraftFunctions.ensureRegistered(src.sparkSession)
      src
      .select(col("vec_id"), e6Array(col("embedding"), KmOff).as("u"))
      .withColumn("ks", array(byCell.map { case (_, c) => kmDistExpr(c) }: _*))
      .withColumn("p", array_position(col("ks"), array_min(col("ks"))).cast(IntegerType))
      .withColumn("cell", element_at(cellIds, col("p")))
      .withColumn("dl", expr(pqDistSql(byM)))
      .withColumn("code", expr("transform(dl, l -> array_position(l, array_min(l)) - 1)"))
    }
    (cellIds, encode)
  }

  /** Trained-quantizer encode shared by v22-v24 — one training, no
    * drift: trains coarse cells (one [[lloydNext]] step from
    * [[kmSeedState]]) + codebook ([[pqTrainLloyd]]) and returns the
    * cell-id literal plus an encode function adding
    * (u, ks, p, cell, dl, code) to an embeddings-shaped frame (v22's
    * per-vector encode, verbatim). */
  private def trainedEncoder(spark: SparkSession, dir: String)
      : (Column, DataFrame => DataFrame) = {
    // r15 opt (§2.6): the coarse training and the PQ training are
    // independent eager chains — overlap their jobs
    val (byCell, (_, byM)) =
      inParallel(spark, kmTrained(spark, dir, 1), pqTrainLloyd(spark, dir))
    quantEncoder(byCell, byM)
  }

  /** v22's serving tail over an already-encoded corpus frame: queries
    * (vec_id < 5) probe their [[IvfProbe]] best cells, candidates come
    * from the broadcast cell equi-join, rank by ADC. Shared by v22 and
    * v26 — one serving plan, no drift. */
  private def ivfServeFrom(enc: DataFrame, cellIds: Column): DataFrame = {
    val wq = Window.partitionBy(col("q_id")).orderBy(col("kdist"), col("cell"))
    val probe = enc.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("dl").as("dq"), posexplode(col("ks")))
      .toDF("q_id", "dq", "pos", "kdist")
      .withColumn("cell", element_at(cellIds, col("pos") + 1))
      .withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= IvfProbe)
      .select(col("q_id"), col("cell"), col("dq"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("vec_id"))
    enc.select(col("vec_id"), col("cell"), col("code"))
      .join(broadcast(probe), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc_dist", expr(
        adcSumSql))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id"), col("cell"), col("adc_dist"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** V23: v22's fully-trained index PERSISTED through the snapshot
    * store — the last literal retired from a PERSISTED serving path
    * (v15/v18 persist the literal-quantizer index; v22 serves trained
    * but rebuilds per run). Train coarse + codebook, then the index
    * rows `(vec_id, cell, code)` — ~12 B/vector, the RAM-resident tier
    * at 10⁹ vectors — MERGE through the store in two batches with a
    * redelivered overlap (v15's at-least-once discipline: the keyed
    * merge must swallow the replay), and SERVING READS ONLY THE
    * PERSISTED TABLE: the query side recomputes its own probe cells and
    * ADC table from its raw vector against the TRAINED
    * collected-centroid literals — exactly what a serving node holds —
    * and candidates come from the broadcast cell equi-join. The result
    * must hash-match v22's per-run-rebuild oracle VERBATIM: a
    * mis-merged row, a dropped overlap or any train/serve drift through
    * the persistence boundary reds the hash.
    *
    * Scale shape: v22's serving plan over a store read; the index build
    * is incremental (each batch encodes only itself — the corpus is
    * never re-encoded), so the nightly refresh costs O(new vectors).
    * v18's partition-by-cell + DPP layout applies orthogonally. */
  val v23PersistedTrainedIvf: Q = (spark, dir) => {
    import graft.incremental.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("graft-tidx").toString
    try {
      val (cellIds, withTrained) = trainedEncoder(spark, dir)
      val emb = fanOut(spark, t(spark, dir, "embeddings"))
      def enc(src: DataFrame) =
        withTrained(src).select(col("vec_id"), col("cell"), col("code"))
      // day-0 build minus a stripe, then the stripe + a REDELIVERED
      // overlap of the day-0 rows (the keyed merge must swallow it)
      SnapshotStore.merge(spark, root,
        enc(emb.filter(pmod(col("vec_id"), lit(5)) =!= 3)), Seq("vec_id"))
      SnapshotStore.merge(spark, root,
        enc(emb.filter(pmod(col("vec_id"), lit(5)) === 3 ||
          pmod(col("vec_id"), lit(31)) === 0)), Seq("vec_id"))
      val idx = SnapshotStore.read(spark, root).get
      // query side: raw vectors only — probe cells + ADC table recomputed
      // against the TRAINED literals, never read from the index
      val wq = Window.partitionBy(col("q_id")).orderBy(col("kdist"), col("cell"))
      val probe = withTrained(emb.filter(col("vec_id") < 5))
        .select(col("vec_id").as("q_id"), col("dl").as("dq"), posexplode(col("ks")))
        .toDF("q_id", "dq", "pos", "kdist")
        .withColumn("cell", element_at(cellIds, col("pos") + 1))
        .withColumn("crk", row_number().over(wq))
        .filter(col("crk") <= IvfProbe)
        .select(col("q_id"), col("cell"), col("dq"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("vec_id"))
      idx.join(broadcast(probe), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("adc_dist", expr(
          adcSumSql))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("rk"), col("vec_id"), col("cell"), col("adc_dist"))
        .localCheckpoint() // materialized before the temp store tree dies
        .orderBy(col("q_id"), col("rk"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  /** V24: the DEPLOYED index shape — v23's fully-TRAINED index merged
    * through the store PARTITIONED BY CELL (v18's serving layout), with
    * dynamic partition pruning REQUIRED in-plan on the serving scan.
    * v23 proved trained + persisted; v18 proved partitioned + pruned (on
    * the literal quantizer); v24 composes them — the shape a production
    * IVF index actually ships as. Two partition-scoped merges with a
    * redelivered overlap (v23's at-least-once discipline) build the
    * table; a query probes its [[IvfProbe]] best TRAINED cells and the
    * serving join keys on the PARTITION column, so the scan is confined
    * to the probed cells' files. The served top-k must hash-match v22's
    * per-run-rebuild oracle VERBATIM: neither persistence nor layout may
    * change a single ranked row.
    *
    * Scale shape: at 10⁹ vectors the serving read is probes/cells of the
    * table (manifest-routed file pruning — no listing, no corpus
    * shuffle), and an incremental vector batch rewrites only the cells
    * it touches (partition-scoped merge) instead of the whole index. */
  val v24PartitionedTrainedIvf: Q = (spark, dir) => {
    import graft.incremental.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("graft-tidx-part").toString
    try {
      val (cellIds, withTrained) = trainedEncoder(spark, dir)
      val emb = fanOut(spark, t(spark, dir, "embeddings"))
      def enc(src: DataFrame) =
        withTrained(src).select(col("vec_id"), col("cell"), col("code"))
      // v23's build: day-0 minus a stripe, then the stripe + a redelivered
      // overlap — but PARTITIONED BY CELL, so merge #2 rewrites only the
      // cell partitions the batch touches
      SnapshotStore.merge(spark, root,
        enc(emb.filter(pmod(col("vec_id"), lit(5)) =!= 3)), Seq("vec_id"),
        partitionDate = Some(col("cell")))
      SnapshotStore.merge(spark, root,
        enc(emb.filter(pmod(col("vec_id"), lit(5)) === 3 ||
          pmod(col("vec_id"), lit(31)) === 0)), Seq("vec_id"),
        partitionDate = Some(col("cell")))
      val idx = SnapshotStore.readWithPartition(spark, root).get
      // query side: v23's — probe cells + ADC table recomputed from the
      // raw vector against the TRAINED literals, never read from the index
      val wq = Window.partitionBy(col("q_id")).orderBy(col("kdist"), col("cell"))
      val probe = withTrained(emb.filter(col("vec_id") < 5))
        .select(col("vec_id").as("q_id"), col("dl").as("dq"), posexplode(col("ks")))
        .toDF("q_id", "dq", "pos", "kdist")
        .withColumn("cell", element_at(cellIds, col("pos") + 1))
        .withColumn("crk", row_number().over(wq))
        .filter(col("crk") <= IvfProbe)
        .select(col("q_id"), col("cell"), col("dq"))
        .withColumn("probe_s", col("cell").cast(StringType))
      val w = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("vec_id"))
      val served = idx
        .join(broadcast(probe.drop("cell")),
          col(SnapshotStore.PartCol) === col("probe_s") && col("vec_id") =!= col("q_id"))
        .withColumn("adc_dist", expr(
          adcSumSql))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("rk"), col("vec_id"), col("cell"), col("adc_dist"))
      require(served.queryExecution.executedPlan.toString.toLowerCase
          .contains("dynamicpruning"),
        "v24: the serving scan must be dynamic-partition-pruned to the probed cells")
      served.localCheckpoint() // pruned scan executes HERE, before the tree dies
        .orderBy(col("q_id"), col("rk"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- V25: Lloyd trained TO CONVERGENCE, state persisted per iteration ----

  /** Lloyd refinement steps run by [[v25LloydConvergence]]. FIXED (not
    * data-dependent) so the DuckDB oracle can unroll the loop
    * declaratively; Lloyd is a fixed-point iteration, so once assignments
    * stabilize every further step reproduces the same centroids and
    * `n_moved` reads 0 — convergence is OBSERVED in the report instead of
    * steering control flow the oracle couldn't replay. */
  val V25Iters = 4

  /** V25: the full k-means TRAINING LOOP — [[lloydNext]]'s one
    * exact-integer Lloyd step iterated [[V25Iters]] times, with EVERY
    * iteration's centroid state MERGED through the snapshot store (g1's
    * iteration discipline composed with v23's persistence — the two
    * pieces the single-step v5/v20/v22 trainings stopped short of).
    * Each training step assigns the quantized corpus to the PREVIOUS
    * iteration's centroids (first-min = lowest-cell tie-break), updates
    * by HALF_UP integer mean, and merges `(iter, cell, cent)` rows keyed
    * `(iter, cell)` — each merge redelivers the previous iteration's
    * rows, which the keyed merge must swallow (v15's at-least-once
    * discipline). The convergence report is then served from the
    * PERSISTED state ALONE: per iteration, vectors are re-assigned under
    * that iteration's stored centroids and the report emits
    * `(iter, n_cells, n_moved, inertia_u)` — a dropped or mis-merged
    * state row anywhere in the loop reds the hash. All surfaces are
    * exact integer (the v5 argument), so the oracle retrains every
    * iteration bit-for-bit.
    *
    * Scale shape: ONE quantize pass is checkpointed and every iteration
    * is a map-only assignment over it (collected-centroid literals — the
    * sanctioned ≤ cells×dims metadata broadcast per iteration, the same
    * state a parameter server would hold) plus one map-side-combined
    * (cell, dim) aggregate; the state table is cells-sized, merged
    * incrementally, and a training job restarted at iteration k replays
    * nothing before k. The report is one further map pass with all
    * [[V25Iters]]+1 assignments fused into a single projection. */
  val v25LloydConvergence: Q = (spark, dir) => {
    import graft.incremental.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("graft-lloyd").toString
    try {
      val u = kmQuantized(spark, dir)
      def centDf(iter: Int, cs: Seq[(Int, Seq[Long])]): DataFrame = {
        import spark.implicits._
        cs.map { case (cell, cent) => (iter, cell, cent) }
          .toDF("iter", "cell", "cent")
      }
      def assign = kmAssign _
      var state = kmSeedState
      val states = scala.collection.mutable.ArrayBuffer(state)
      SnapshotStore.merge(spark, root, centDf(0, state), Seq("iter", "cell"))
      for (it <- 1 to V25Iters) {
        state = lloydNext(u, state)
        states += state
        // iteration it's rows PLUS a redelivery of iteration it−1's — the
        // keyed merge must swallow the replay
        SnapshotStore.merge(spark, root,
          centDf(it, state).unionByName(centDf(it - 1, states(it - 1))),
          Seq("iter", "cell"))
      }
      // the report reads ONLY the persisted state (≤ iters×cells rows —
      // the sanctioned metadata collect): training/persistence drift reds it
      val byIter: Map[Int, Seq[(Int, Seq[Long])]] =
        SnapshotStore.read(spark, root).get.collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
          .groupBy(_._1)
          .map { case (it, rows) => it -> rows.map(x => (x._2, x._3)).sortBy(_._1).toSeq }
      require(byIter.keySet == (0 to V25Iters).toSet,
        s"v25: store must hold every iteration's state, got ${byIter.keySet}")
      val wide = (0 to V25Iters).foldLeft(u)((df, it) => assign(byIter(it), it.toString)(df))
      val aggs = (1 to V25Iters).flatMap { it =>
        Seq(sum(when(col(s"c$it") =!= col(s"c${it - 1}"), 1L).otherwise(0L)).as(s"moved_$it"),
          sum(col(s"d$it")).as(s"inertia_$it"))
      }
      wide.agg(aggs.head, aggs.tail: _*)
        .select(explode(array((1 to V25Iters).map(it =>
          struct(lit(it.toLong).as("iter"),
            lit(byIter(it).size.toLong).as("n_cells"),
            col(s"moved_$it").as("n_moved"),
            col(s"inertia_$it").as("inertia_u"))): _*)).as("r"))
        .select(col("r.iter").as("iter"), col("r.n_cells").as("n_cells"),
          col("r.n_moved").as("n_moved"), col("r.inertia_u").as("inertia_u"))
        .localCheckpoint() // materialized before the temp store tree dies
        .orderBy(col("iter"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  /** V26: serving on the CONVERGED coarse quantizer — v25's training
    * loop feeding v22's serve, retiring the one asymmetry the trained
    * ladder had left (v22/v23/v24 all serve on a SINGLE Lloyd step):
    * the coarse cells run [[V25Iters]] exact-integer Lloyd steps to
    * (observed) convergence, then the corpus encodes and serves against
    * the FINAL state — assign → probe → ADC → rank exactly as v22, PQ
    * codebook from [[pqTrainLloyd]] (one step, as every PQ tier; the
    * loop pattern is proven once by the coarse side). The oracle
    * retrains ALL iterations declaratively and replays the serve, so a
    * drift in ANY iteration — not just the first — reds the hash.
    *
    * Scale shape: v25's training cost (one checkpointed quantize pass +
    * [[V25Iters]] map-only assignments with ≤ cells×dims collects) plus
    * v22's serving shape (one encode scan, broadcast cell equi-join —
    * the corpus is never crossed or shuffled). */
  val v26ConvergedIvfServe: Q = (spark, dir) => {
    // r15 opt (§2.6): the coarse convergence loop and the PQ training are
    // independent eager chains — overlap their jobs
    val (state, (_, byM)) =
      inParallel(spark, kmTrained(spark, dir, V25Iters), pqTrainLloyd(spark, dir))
    val (cellIds, encode) = quantEncoder(state, byM)
    val enc = encode(fanOut(spark, t(spark, dir, "embeddings")))
      .drop("u", "p")
      .localCheckpoint() // corpus + query sides (self-join — see d2)
    ivfServeFrom(enc, cellIds)
  }

  // ---- V27: residual IVF-PQ — the production FAISS encoding ----------------

  /** Residual re-offset: `u` and every trained centroid live in
    * [0, 2·KmOff] (|embedding| ≤ 1.0, guarded loudly in-plan), so
    * r = u − cent + 2·KmOff is provably non-negative — v5's all-positive
    * trunc ≡ floor argument carried into residual space. */
  val ResOff: Long = 2 * KmOff

  /** Residual IVF-PQ (Jégou et al. 2011 §III; the FAISS `IndexIVFPQ`
    * default): the PQ codebook quantizes the RESIDUAL v − c(cell) rather
    * than the raw vector — residuals concentrate around zero once the
    * coarse quantizer explains the between-cell variance, so the same
    * 4-bit budget spends its codes on a tighter distribution. This is
    * the one encoding asymmetry left after v22-v26: they all PQ-encode
    * raw vectors. Chain: trained coarse cells ([[kmTrained]], one step) →
    * per-vector residual in re-offset units ([[ResOff]]) → residual
    * codebook seeded from the residuals of the [[PqK]] smallest vec_ids
    * (deterministic data-derived seeds — the standard sample-init — so
    * the oracle reselects them) and trained one exact-integer Lloyd step
    * through [[pqLloydStepFrom]] (v20's arithmetic verbatim) → encode →
    * serve. Serving is v22's broadcast cell equi-join with the one real
    * difference residual encoding forces: the query's ADC table is
    * PER PROBED CELL (the query residual depends on which cell is being
    * searched), so the probe frame carries (q_id, cell, dq) — exactly
    * the per-probe table a FAISS serving node builds. The oracle
    * retrains coarse + residual codebook end-to-end and replays
    * assign → residual → probe → per-cell ADC → rank.
    *
    * Scale shape: v22's — two training scans + one encode scan, both
    * trainings end in the sanctioned ≤ cells×dims metadata collect, the
    * candidate stream is |probed cells| of the corpus via a broadcast
    * (queries × probe)-sized frame, never a corpus shuffle. The per-cell
    * dq tables multiply the BROADCAST side by [[IvfProbe]], not the
    * corpus side. Everything exact integer. */
  val v27ResidualPq: Q = (spark, dir) => {
    val (cellIds, centsSql, byMr, enc0) = residualTrained(spark, dir)
    // encode the corpus on the trained residual codebook
    val enc = enc0
      .withColumn("dl", expr(pqDistSql(byMr, "r")))
      .withColumn("code", expr("transform(dl, l -> array_position(l, array_min(l)) - 1)"))
      .select(col("vec_id"), col("cell"), col("code"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("vec_id"))
    enc
      .join(broadcast(residualProbe(enc0, cellIds, centsSql, byMr)), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc_dist", expr(
        adcSumSql))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id"), col("cell"), col("adc_dist"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** v27's trained state, shared with [[v28PersistedResidual]] — one
    * training, no drift: coarse Lloyd step, per-vector residuals, and
    * the residual codebook from the data-derived seeds. Returns
    * (cellIds literal, trained-centroid SQL literal, residual codebook,
    * the checkpointed per-vector frame with u/ks/cell/r). */
  private def residualTrained(spark: SparkSession, dir: String)
      : (Column, String, Seq[(Int, Seq[(Int, Seq[Long])])], DataFrame) =
    residualTrainedFrom(spark, dir, kmTrained(spark, dir, 1))

  /** [[residualTrained]]'s body over an ARBITRARY coarse state (cell →
    * centroid, ascending cells): v27/v28 pass the 1-step Lloyd state,
    * v29 the [[V25Iters]]-converged one — one residual training
    * implementation, no drift across the coarse-quantizer tiers. */
  private def residualTrainedFrom(spark: SparkSession, dir: String,
                                  byCell: Seq[(Int, Seq[Long])])
      : (Column, String, Seq[(Int, Seq[(Int, Seq[Long])])], DataFrame) = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val cellIds = array(byCell.map { case (id, _) => lit(id) }: _*)
    val centsSql = byCell.map { case (_, c) => centLit(c) }
      .mkString("array(", ",", ")")
    val enc0 = fanOut(spark, t(spark, dir, "embeddings"))
      .select(col("vec_id"), e6Array(col("embedding"), KmOff).as("u"))
      .withColumn("ks", array(byCell.map { case (_, c) => kmDistExpr(c) }: _*))
      .withColumn("p", array_position(col("ks"), array_min(col("ks"))).cast(IntegerType))
      .withColumn("cell", element_at(cellIds, col("p")))
      .withColumn("r", expr(
        s"zip_with(u, element_at($centsSql, p), (a, b) -> a - b + ${ResOff}L)"))
      .localCheckpoint() // residual train + encode + corpus + query sides
    // loud range guard (the m6/m7 discipline): the all-positive argument
    // needs |embedding| ≤ 1.0; a tier outside it must fail here, not
    // serve with floor/trunc divergence the oracle can't see
    val bad = enc0.agg(sum(when(expr("array_min(r) < 0L"), 1L)
      .otherwise(0L)).as("bad")).head.getLong(0)
    require(bad == 0L, s"residual training: $bad vectors have negative offset residuals " +
      s"— embedding range exceeds the ±1.0 the $ResOff re-offset assumes")
    val rsub = enc0
      .select(col("vec_id"), explode(sequence(lit(0), lit(PqSub - 1))).as("m"),
        col("r"))
      .withColumn("su", expr(s"slice(r, m * $PqDim + 1, $PqDim)"))
      .drop("r")
    // deterministic data seeds: the residual subvectors of the PqK
    // smallest vec_ids (metadata-sized collect — Sub·K·Dim longs)
    val seedRows = rsub.filter(col("vec_id") < PqK)
      .select(col("vec_id"), col("m"), col("su")).collect()
    require(seedRows.length == PqSub * PqK,
      s"residual training: expected ${PqSub * PqK} seed slices, got ${seedRows.length} — " +
        s"the tier must contain vec_ids 0..${PqK - 1}")
    val seeds: Seq[Seq[Seq[Long]]] = (0 until PqSub).map(m =>
      seedRows.filter(_.getInt(1) == m).sortBy(_.getLong(0))
        .map(_.getSeq[Long](2).toVector).toSeq)
    val (_, byMr) = pqLloydStepFrom(rsub, seeds)
    (cellIds, centsSql, byMr, enc0)
  }

  /** The residual-serving query side (v27's probe, shared with v28):
    * each query's [[IvfProbe]] best cells, each carrying the ADC table
    * of the query's residual AGAINST THAT CELL — the residual-encoding
    * signature. (queries × probe) rows, always broadcast. */
  private def residualProbe(enc0: DataFrame, cellIds: Column,
                            centsSql: String,
                            byMr: Seq[(Int, Seq[(Int, Seq[Long])])]): DataFrame = {
    val wq = Window.partitionBy(col("q_id")).orderBy(col("kdist"), col("cell"))
    enc0.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("u"), posexplode(col("ks")))
      .toDF("q_id", "u", "pos", "kdist")
      .withColumn("cell", element_at(cellIds, col("pos") + 1))
      .withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= IvfProbe)
      .withColumn("qr", expr(
        s"zip_with(u, element_at($centsSql, pos + 1), (a, b) -> a - b + ${ResOff}L)"))
      .withColumn("dq", expr(pqDistSql(byMr, "qr")))
      .select(col("q_id"), col("cell"), col("dq"))
  }

  /** v27's probe frame (q_id, cell) recomputed from the shared training —
    * exposed so Invariants can assert candidate cells ⊆ probed cells
    * EXPLICITLY (the join shape enforces it implicitly; the tier check
    * makes it a stated property, not a structural accident). */
  private[graft] def v27ProbeCells(spark: SparkSession, dir: String): DataFrame = {
    val (cellIds, centsSql, byMr, enc0) = residualTrained(spark, dir)
    residualProbe(enc0, cellIds, centsSql, byMr).select(col("q_id"), col("cell"))
  }

  /** V28: v27's residual index DEPLOYED — the trained residual
    * `(vec_id, cell, code)` rows merged through the snapshot store
    * `partitionBy(cell)` in two partition-scoped batches with a
    * redelivered overlap, and serving reads ONLY the persisted table
    * with dynamic partition pruning REQUIRED in-plan (v24's layout
    * discipline applied to v27's encoding — the index a production
    * residual-IVF-PQ deployment actually holds at rest). The query side
    * recomputes probe cells + per-cell residual ADC tables from its raw
    * vector against the trained literals — exactly what a serving node
    * holds — and the result must hash-match v27's per-run rebuild
    * VERBATIM (v23's discipline: persistence and layout may change
    * cost, never a single ranked row).
    *
    * Scale shape: an incremental batch re-encodes only itself and
    * rewrites only the cell partitions it touches; a query's read is
    * probes/cells of the table via DPP. */
  val v28PersistedResidual: Q = (spark, dir) =>
    persistedResidualServe(spark, "ridx", residualTrained(spark, dir))

  /** v28's persist-and-serve body over an arbitrary residual training
    * (shared with v29): the trained `(vec_id, cell, code)` rows merge
    * through the snapshot store partitioned by cell in two
    * partition-scoped batches with a redelivered overlap, and serving
    * reads ONLY the persisted table with dynamic partition pruning
    * REQUIRED in-plan. */
  private def persistedResidualServe(spark: SparkSession, tag: String,
      trained: (Column, String, Seq[(Int, Seq[(Int, Seq[Long])])], DataFrame))
      : DataFrame = {
    import graft.incremental.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory(s"graft-$tag").toString
    try {
      val (cellIds, centsSql, byMr, enc0) = trained
      def encIdx(src: DataFrame) = src
        .withColumn("dl", expr(pqDistSql(byMr, "r")))
        .withColumn("code", expr("transform(dl, l -> array_position(l, array_min(l)) - 1)"))
        .select(col("vec_id"), col("cell"), col("code"))
      // v23's build: day-0 minus a stripe, then the stripe + a
      // redelivered overlap — partitioned by cell, so merge #2 rewrites
      // only the cell partitions the batch touches
      SnapshotStore.merge(spark, root,
        encIdx(enc0.filter(pmod(col("vec_id"), lit(5)) =!= 3)), Seq("vec_id"),
        partitionDate = Some(col("cell")))
      SnapshotStore.merge(spark, root,
        encIdx(enc0.filter(pmod(col("vec_id"), lit(5)) === 3 ||
          pmod(col("vec_id"), lit(31)) === 0)), Seq("vec_id"),
        partitionDate = Some(col("cell")))
      val idx = SnapshotStore.readWithPartition(spark, root).get
      val probe = residualProbe(enc0, cellIds, centsSql, byMr)
        .withColumn("probe_s", col("cell").cast(StringType))
      val w = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("vec_id"))
      val served = idx
        .join(broadcast(probe.drop("cell")),
          col(SnapshotStore.PartCol) === col("probe_s") && col("vec_id") =!= col("q_id"))
        .withColumn("adc_dist", expr(
          adcSumSql))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("rk"), col("vec_id"), col("cell"), col("adc_dist"))
      require(served.queryExecution.executedPlan.toString.toLowerCase
          .contains("dynamicpruning"),
        s"$tag: the serving scan must be dynamic-partition-pruned to the probed cells")
      served.localCheckpoint() // pruned scan executes HERE, before the tree dies
        .orderBy(col("q_id"), col("rk"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- V29: the full production composition --------------------------------

  /** V29: CONVERGED coarse quantizer × RESIDUAL encoding × PERSISTED
    * cell-partitioned index — the composition the v22→v28 ladder built
    * piecewise, closed end to end: the coarse cells train [[V25Iters]]
    * exact-integer Lloyd steps to (observed) convergence (v25/v26's
    * loop), the PQ codebook trains on residuals against the CONVERGED
    * centroids with data-derived seeds (v27's encoding — this retires
    * the last training asymmetry, where residuals were taken off a
    * single Lloyd step), and the encoded index persists through the
    * snapshot store partitioned by cell with DPP required in-plan
    * (v28's layout). This is the shape a production FAISS-style
    * deployment actually runs: `IndexIVFPQ` with a converged coarse
    * quantizer and residual codebooks, held at rest as a partitioned
    * table. The oracle retrains the ENTIRE chain declaratively — every
    * Lloyd iteration, the residual codebook, the per-cell ADC replay —
    * so drift anywhere from seed to serve reds the hash; persistence
    * may not change a single ranked row (the v23/v24/v28 invariance).
    *
    * Scale shape: training is [[V25Iters]]+1 map-only assignment passes
    * over one checkpointed quantize scan (≤ cells×dims collect per
    * step — the parameter-server broadcast), encoding one further scan;
    * an incremental batch re-encodes only itself and rewrites only the
    * cell partitions it touches; a query's read is probes/cells of the
    * table via DPP with the per-cell residual ADC tables riding the
    * (queries × probe)-sized broadcast. The corpus is never crossed or
    * shuffled on the serve path. */
  val v29ConvergedResidual: Q = (spark, dir) => {
    persistedResidualServe(spark, "cridx",
      residualTrainedFrom(spark, dir, kmTrained(spark, dir, V25Iters)))
  }

  // ---- D5: embedding-cosine near-dup (LSH-blocked pair mining) -------------

  /** Near-duplicate PAIRS by embedding cosine: candidates = vectors sharing
    * a sign-LSH bucket in ANY of [[NdTables]] independent tables (explode
    * table buckets → equi-join — never an all-pairs product), verified with
    * exact cosine ≥ 0.3. The planes are fixed literals, so the bucketing —
    * and therefore the result — is reproduced exactly by the oracle; the
    * brute-force v1 path remains the recall baseline.
    *
    * The verify is FUSED into the bucket self-join: each side carries its
    * vector, the cosine is computed in the join's output projection and
    * filtered in the same stage. The candidate stream (which on a
    * low-threshold/low-dim corpus like this fixture is inherently ~n²·p —
    * at cos ≥ 0.3 in 64 dims, ~1% of ALL pairs qualify, so the OUTPUT
    * itself is near-quadratic) is therefore never shuffled or
    * materialized: everything that crosses the wire is linear in the
    * corpus (bucket rows with vectors attached), and the quadratic part is
    * pure in-stage arithmetic. A 3-join formulation that shuffled the
    * candidate pairs twice died of exactly that at the 30× rehearsal tier
    * (347 s → 10 s). Only the post-filter survivors reach the dedup. */
  val d5EmbeddingNeardup: Q = (spark, dir) => {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val planeSql = NdPlanes.map(t => t.map(p => p.map(sqlDouble).mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")).mkString("array(", ",", ")")
    val e = fanOut(spark, t(spark, dir, "embeddings"))
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr("sqrt(vector_dot(v, v))"))
      .localCheckpoint() // both join sides re-derive from this; GC-released (see d2)
    val sides = e.select(col("vec_id"), col("v"), col("nrm"), posexplode(expr(
      s"""transform(sequence(0, ${NdTables - 1}), t ->
         |  aggregate(transform(sequence(0, ${NdBits - 1}), j ->
         |    CASE WHEN vector_dot(v, cast(${planeSql}[t][j] as array<double>)) > 0D
         |         THEN shiftleft(1L, j) ELSE 0L END),
         |    0L, (acc, bit) -> acc + bit))""".stripMargin)))
      .toDF("vec_id", "v", "nrm", "tbl", "bucket")
    // dedup (pairs found by >1 table, measured ~3%) runs AFTER the cosine
    // filter, on survivors only — a distinct on the raw candidate stream
    // would force materializing it
    sides.as("x").join(sides.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
        e6(expr("vector_dot(x.v, y.v)") / (col("x.nrm") * col("y.nrm"))).as("cos_e6"))
      .filter(col("cos_e6") >= lit(300000L))
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  // ---- D7: SemDeDup — semantic dedup inside coarse-quantizer cells ---------

  /** Rounded-cosine threshold above which two same-cell vectors are
    * semantic duplicates (the fixtures' planted near-dups sit well above
    * it; the random bulk well below — same corpus shape d5 mines). */
  val SemThresh = 0.3

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): assign every embedding to its nearest coarse
    * centroid (the v3 quantizer — argmax of dot(v,c) − ‖c‖²/2 over
    * [[IvfCells]] literal centroids), then mark a vector a duplicate iff
    * some SAME-CELL vector with a smaller id has rounded cosine ≥
    * [[SemThresh]]. Min-id-wins makes the retained set deterministic
    * without a transitive closure (the paper keeps one exemplar per
    * over-threshold group within a cluster; id order is our tiebreak).
    *
    * Scale shape: the pairwise work is confined to a cell (n²/K per cell,
    * the published algorithm's actual cost — real deployments grow K with
    * the corpus so cells stay bounded), expressed as a LEFT SEMI self-join
    * on the cell id: vectors ride the cell rows, the cosine is evaluated
    * and thresholded inside the join stage (the d5 fused-verify lesson),
    * and the semi-join emits each duplicate once — no candidate-pair
    * stream is ever materialized or de-duplicated. Zero-norm vectors have
    * no direction and are never duplicates (nrm > 0 on both sides,
    * mirrored in the oracle). */
  val d7Semdedup: Q = (spark, dir) => {
    val e = ivfAssigned(spark, dir)
    val dup = e.as("x").join(e.as("y"),
        col("x.cell") === col("y.cell") && col("y.vec_id") < col("x.vec_id") &&
          col("x.nrm") > 0 && col("y.nrm") > 0 &&
          e6(expr("vector_dot(x.v, y.v)") / (col("x.nrm") * col("y.nrm")))
            >= lit((SemThresh * 1e6).toLong),
        "left_semi")
      .select(col("vec_id"), lit(1).as("dup"))
    e.join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast(IntegerType).as("cell"),
        coalesce(col("dup"), lit(0)).as("is_dup"))
      .orderBy(col("vec_id"))
  }

  // ---- T1: text statistics + quality score ---------------------------------

  val t1TextStats: Q = (spark, dir) =>
    t(spark, dir, "documents")
      .withColumn("w", split(lower(col("text")), " "))
      .withColumn("nt", size(col("w")).cast(LongType))
      .withColumn("n_stop",
        expr(s"size(filter(w, x -> x in ${inList(StopEn)}))").cast(LongType))
      .select(
        col("doc_id"),
        col("nt").as("n_tokens"),
        length(col("text")).as("n_chars_m"),
        // exact integer ppm ratios (round-8 fixed-point sweep: every
        // hashed ratio here is a rational of integers, so divide in the
        // integer domain — no engine float-rounding policy on the surface)
        expr("cast(length(text) - length(regexp_replace(text, '[.,!?;:]', '')) as bigint)" +
          " * 1000000 div length(text)").as("punct_ppm"),
        expr("n_stop * 1000000 div nt").as("stop_ppm"),
        // blend min(1, nt/100)·0.5 + (n_stop/nt)·0.5
        //   = (min(100,nt)·nt + 100·n_stop) / (200·nt); ×1e6 ⇒ ×5000 div nt
        expr("(least(100L, nt) * nt + 100L * n_stop) * 5000 div nt").as("quality_ppm"))
      .orderBy(col("doc_id"))

  // ---- T2: language-ID heuristic -------------------------------------------

  /** Stopword-hit n-gram heuristic: count hits per language list, argmax
    * with a fixed precedence (en > es > de > fr). */
  val t2LangId: Q = (spark, dir) =>
    // fanOut: four interpreted stopword-membership lambdas per row are
    // CPU-dense enough that #input-files tasks is the bottleneck
    fanOut(spark, t(spark, dir, "documents"))
      .withColumn("w", split(lower(col("text")), " "))
      .select(
        col("doc_id"),
        expr(s"size(filter(w, x -> x in ${inList(StopEn)}))").as("en_hits"),
        expr(s"size(filter(w, x -> x in ${inList(StopEs)}))").as("es_hits"),
        expr(s"size(filter(w, x -> x in ${inList(StopDe)}))").as("de_hits"),
        expr(s"size(filter(w, x -> x in ${inList(StopFr)}))").as("fr_hits"))
      .withColumn("lang_pred",
        when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits") &&
          col("en_hits") >= col("fr_hits"), lit("en"))
          .when(col("es_hits") >= col("de_hits") && col("es_hits") >= col("fr_hits"), lit("es"))
          .when(col("de_hits") >= col("fr_hits"), lit("de"))
          .otherwise(lit("fr")))
      .orderBy(col("doc_id"))

  // ---- T3: regex token counting (BPE-ish pre-tokenizer) --------------------

  val tokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  val t3TokenCount: Q = (spark, dir) =>
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(expr(s"regexp_extract_all(text, '$tokenPattern', 0)")).as("n_bpe_tokens"),
        ceil(col("n_chars") / 4.0).cast(LongType).as("est_tokens"))
      .orderBy(col("doc_id"))

  // ---- T4: document fingerprinting -----------------------------------------

  /** Content fingerprints: md5 of the whitespace/punct-canonicalized text,
    * plus a winnowing-style min-hash over 5-word windows (lexicographic min
    * of window md5s) that survives local edits.
    *
    * The window md5s run as a codegen'd projection over EXPLODED window
    * rows + a map-side-combined `min` — not inside a `transform` lambda,
    * which Spark evaluates interpreted per element. The explode stays in
    * the scan stage and the partial min collapses each doc back to one row
    * before the shuffle, so the fan-out never crosses the wire. */
  val t4Fingerprint: Q = (spark, dir) => {
    val base = fanOut(spark, t(spark, dir, "documents"))
      .withColumn("canon",
        trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "  +", " ")))
      .select(col("doc_id"), col("canon"))
      // checkpoint carries (doc_id, canon) only — the regex passes run once,
      // and the word arrays (≈2× the text again) never hit block storage
      .localCheckpoint()
    val winMin = base
      .withColumn("w", split(col("canon"), " "))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - 5)).as("i"))
      .select(col("doc_id"),
        md5(concat_ws(" ", col("w")(col("i")), col("w")(col("i") + 1),
          col("w")(col("i") + 2), col("w")(col("i") + 3), col("w")(col("i") + 4))).as("h"))
      .groupBy(col("doc_id")).agg(min(col("h")).as("win_min"))
    base.join(winMin, Seq("doc_id"), "left")
      .select(col("doc_id"), md5(col("canon")).as("fp_md5"),
        coalesce(col("win_min"), md5(col("canon"))).as("fp_window_min"))
      .orderBy(col("doc_id"))
  }

  // ---- M1: multimodal binary-column plumbing -------------------------------

  final case class MediaMeta(doc_id: Long, n_bytes: Long, sha256_hex: String,
                             codec: String, width: Long, height: Long)

  /** Opaque-binary media pipeline with a REAL multi-codec header decode:
    * even docs carry a valid PNG prefix (8-byte signature + IHDR chunk,
    * big-endian width/height planted from per-doc formulas, depth 8,
    * RGBA), odd docs a valid JPEG prefix (SOI + 16-byte JFIF APP0 + a
    * baseline SOF0 frame header carrying the same planted height/width),
    * each followed by the text bytes as stand-in pixel data — built as a
    * codegen'd binary `concat`. The mapPartitions seam then DISPATCHES on
    * the actual bytes: PNG goes through signature/chunk-type checks and
    * fixed-offset big-endian reads; JPEG goes through a real MARKER SCAN
    * (walk segments by their length fields until SOF0) — the decoder does
    * not know which docs are which, or at what offset a JPEG's frame
    * header sits. The oracle recomputes the planted formulas, so a hash
    * match proves `parse ∘ plant ≡ id` through genuine binary decoding of
    * two container formats (no codec libraries ship in this container, so
    * the "pixels" stay synthetic — but every byte the decoder touches is
    * a real header it did not compute from).
    *
    * The content digest stays a codegen'd `sha2` COLUMN over the content
    * bytes (hashing is expressible relational work — doing it per-row
    * inside the imperative seam would pay interpreter + hex-formatting
    * cost for nothing); only the byte-level header parse runs in the
    * partition iterator. */
  /** The planted media containers (even docs a valid PNG prefix, odd docs
    * a valid JPEG prefix, payload = the text bytes) — shared by m1's
    * metadata decode and m5's perceptual-hash decode. */
  private def plantedMedia: Column = {
    val w = (lit(1) + pmod(col("n_chars"), lit(1024))).cast(LongType)
    val h = (lit(1) + pmod(col("doc_id"), lit(768))).cast(LongType)
    val pngHeader = concat(
      unhex(lit("89504E470D0A1A0A0000000D49484452")), // signature + len(13) + "IHDR"
      unhex(lpad(hex(w), 8, "0")),                    // width, big-endian
      unhex(lpad(hex(h), 8, "0")),                    // height, big-endian
      unhex(lit("080600000000000000")))               // depth 8, RGBA, flags, CRC(0)
    val jpegHeader = concat(
      unhex(lit("FFD8")),                             // SOI
      unhex(lit("FFE000104A46494600010100004800480000")), // APP0 "JFIF", 16 B
      unhex(lit("FFC0001108")),                       // SOF0, len 17, depth 8
      unhex(lpad(hex(h), 4, "0")),                    // height, big-endian 16-bit
      unhex(lpad(hex(w), 4, "0")),                    // width, big-endian 16-bit
      unhex(lit("03011100021101031101")))             // 3 components
    concat(
      when(pmod(col("doc_id"), lit(2)) === 0, pngHeader).otherwise(jpegHeader),
      encode(col("text"), "UTF-8"))
  }

  val m1MultimodalMeta: Q = (spark, dir) => {
    import spark.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"), plantedMedia.as("payload"),
        sha2(encode(col("text"), "UTF-8"), 256).as("sha256_hex"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        def be32(b: Array[Byte], off: Int): Long =
          ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
            ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
        def be16(b: Array[Byte], off: Int): Long =
          ((b(off) & 0xffL) << 8) | (b(off + 1) & 0xffL)
        val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
        it.map { case (id, bytes, hex) =>
          if (bytes.length >= 33 && bytes.take(8).sameElements(pngSig) &&
            new String(bytes, 12, 4, java.nio.charset.StandardCharsets.US_ASCII) == "IHDR") {
            val depth = bytes(24) & 0xff
            val codec = (bytes(25) & 0xff) match {
              case 0 => s"png/gray$depth"
              case 2 => s"png/rgb$depth"
              case 3 => s"png/indexed$depth"
              case 4 => s"png/graya$depth"
              case 6 => s"png/rgba$depth"
              case c => s"png/ct$c"
            }
            MediaMeta(id, bytes.length.toLong, hex, codec, be32(bytes, 16), be32(bytes, 20))
          } else if (bytes.length >= 4 &&
            (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) {
            // JPEG marker scan: walk segments by length until a frame header
            var pos = 2
            var meta: MediaMeta = null
            while (meta == null && pos + 4 <= bytes.length &&
              (bytes(pos) & 0xff) == 0xff) {
              val marker = bytes(pos + 1) & 0xff
              val segLen = be16(bytes, pos + 2).toInt
              if (marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 &&
                marker != 0xc8 && marker != 0xcc) { // SOFn
                val depth = bytes(pos + 4) & 0xff
                val kind = if (marker == 0xc0) "baseline"
                  else if (marker == 0xc2) "progressive" else f"sof$marker%02x"
                meta = MediaMeta(id, bytes.length.toLong, hex, s"jpeg/$kind$depth",
                  be16(bytes, pos + 7), be16(bytes, pos + 5))
              } else pos += 2 + segLen
            }
            if (meta != null) meta
            else MediaMeta(id, bytes.length.toLong, hex, "jpeg/noframe", 0L, 0L)
          } else MediaMeta(id, bytes.length.toLong, hex, "unknown", 0L, 0L)
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  // ---- M5: perceptual-hash near-dup over decoded images (aHash) ------------

  final case class PHash(doc_id: Long, n_sh: Long,
                         b0: Long, b1: Long, b2: Long, b3: Long)

  /** Image-dedup bridge between the multimodal and dedup ladders: the
    * average-hash (aHash) pipeline every image-dedup stack runs —
    * decode → downsample to a tiny luma grid → threshold at the mean →
    * 64-bit fingerprint → Hamming-banded candidate pairs → exact verify.
    * The decode seam parses m1's REAL containers (PNG fixed-offset IHDR
    * walk / JPEG marker scan — the dispatch does not know which doc is
    * which) and extracts the payload; the "luma grid" is the brief's
    * sanctioned deterministic stand-in for pixel decoding (no codec libs
    * ship in this container): pixel k = number of distinct payload
    * 3-shingles whose md5 lands in bucket k of 64 — a feature-hashing
    * grid with the locality aHash needs (shared shingles ⇒ shared
    * buckets), computed from DECODED payload bytes only. Bit k is set iff
    * 64·pixel_k > total (strict integer compare — no float mean), and the
    * 64 bits split into 4×16-bit bands (d3's Hamming-LSH shape).
    *
    * Unlike d2 (whose xxhash signatures no second engine can recompute,
    * so its oracle must be the exact ground truth), every stage here is
    * engine-portable (md5 buckets, integer bits), so the DuckDB oracle
    * replays the ENTIRE banded pipeline — candidates included — and the
    * hash pins fingerprint, banding and verify, with no reliance on a
    * probabilistic recall guarantee. Emitted pairs carry the Hamming
    * distance and the exact shingle Jaccard (≥ ½ kept, d2's convention).
    *
    * Scale shape: the seam is one corpus pass (fanned out — md5-per-
    * shingle is CPU-dense); candidates are an equi-join on (band, value)
    * — near-dup clusters share buckets by design, the same bounded-skew
    * shape as d5's sign-LSH buckets; the verify join touches candidates
    * only, with shingle sets fetched by key. */
  /** Byte-level decode + feature-grid helpers shared by the m5/m8 seams
    * — ONE parser per container and one grid recipe, defined once so the
    * image gates can't drift from each other. */
  private[graft] object MediaDecode extends Serializable {
    val pngSig: Array[Byte] =
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    def be16(b: Array[Byte], off: Int): Int =
      ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
    /** Payload offset via a REAL header parse (PNG chunk / JPEG marker walk). */
    def contentOffset(b: Array[Byte]): Int =
      if (b.length >= 33 && b.take(8).sameElements(pngSig) &&
        new String(b, 12, 4, java.nio.charset.StandardCharsets.US_ASCII) == "IHDR")
        8 + 4 + 4 + ((b(8) & 0xff) << 24 | (b(9) & 0xff) << 16 |
          (b(10) & 0xff) << 8 | (b(11) & 0xff)) + 4
      else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
        var pos = 2
        var content = -1
        while (content < 0 && pos + 4 <= b.length && (b(pos) & 0xff) == 0xff) {
          val marker = b(pos + 1) & 0xff
          val segLen = be16(b, pos + 2)
          if (marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 &&
            marker != 0xc8 && marker != 0xcc) content = pos + 2 + segLen
          else pos += 2 + segLen
        }
        content
      } else -1
    /** Decoded payload text (UTF-8); "" when the container fails to parse. */
    def payloadText(b: Array[Byte]): String = {
      val off = contentOffset(b)
      if (off < 0 || off > b.length) ""
      else new String(b, off, b.length - off, java.nio.charset.StandardCharsets.UTF_8)
    }
    /** d2's shingle convention: lowercase, split on ' ' (empties kept),
      * distinct 3-word windows. */
    def shingles(text: String): Set[String] = {
      val w = text.toLowerCase.split(" ", -1)
      if (w.length < 3) Set.empty[String]
      else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    /** The 64-bucket md5 feature-hash bucket of one shingle (the 60-bit
      * hex parse % 64 — identical to the relational
      * `conv(substring(md5(s),1,15),16,10) % 64`). */
    def bucket(md: java.security.MessageDigest, s: String): Int = {
      md.reset()
      val hx = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hx.substring(0, 15), 16) % 64L).toInt
    }
    /** The 64-cell distinct-shingle count grid. */
    def grid(md: java.security.MessageDigest, sh: Set[String]): Array[Long] = {
      val g = new Array[Long](64)
      sh.foreach(s => g(bucket(md, s)) += 1)
      g
    }
  }

  val m5ImagePhash: Q = (spark, dir) => {
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val docs = fanOut(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), plantedMedia.as("payload"))
      .as[(Long, Array[Byte])]
    val ph = docs.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, bytes) =>
        val sh = MediaDecode.shingles(MediaDecode.payloadText(bytes))
        val luma = MediaDecode.grid(md, sh)
        val n = sh.size.toLong
        val bands = new Array[Long](4)
        var k = 0
        while (k < 64) {
          if (64L * luma(k) > n) bands(k / 16) |= 1L << (k % 16)
          k += 1
        }
        PHash(id, n, bands(0), bands(1), bands(2), bands(3))
      }
    }.toDF().filter(col("n_sh") >= 1).localCheckpoint() // both sides of the self-join
    // an all-zero band carries no perceptual signal (nothing above the
    // mean in that 16-bucket stripe) — standard LSH practice skips it,
    // which also removes the short-doc zero-band cross-pairing blowup
    val sides = ph.select(col("doc_id"),
      array(col("b0"), col("b1"), col("b2"), col("b3")).as("bv"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
      .toDF("doc_id", "bv", "band", "v")
      .filter(col("v") =!= 0L)
    val cand = sides.as("x").join(sides.as("y"),
        col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        expr("aggregate(sequence(0, 3), 0L," +
          " (acc, i) -> acc + bit_count(x.bv[i] ^ y.bv[i]))").as("hamming"))
      .distinct()
    val sh = t(spark, dir, "documents")
      .select(col("doc_id"), expr("shingle_ids(text)").as("ids"))
      .select(col("doc_id"), col("ids"), size(col("ids")).cast(LongType).as("n"))
      .localCheckpoint() // fetched by BOTH pair sides
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("ids").as("sa"), col("n").as("na")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("ids").as("sb"), col("n").as("nb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast(LongType))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(lit(2) * col("inter") >= col("uni"))
      .select(col("a_id"), col("b_id"), col("hamming"),
        expr("inter * 1000000 div uni").as("jaccard_ppm"))
      // r14 opt: sort-sampling would re-run the candidate fetch joins and
      // the array_intersect verify (see d14bNamePairs); output-sized
      .localCheckpoint()
      .orderBy(col("a_id"), col("b_id"))
  }

  // ---- M8: image–alt-text alignment filter (CLIP-filtering plumbing) -------

  final case class MediaGrid(doc_id: Long, n_img: Long, igrid: Array[Long])

  /** Caption length (words) for [[m8ClipFilter]]'s alt-text stand-in. */
  val M8CaptionWords = 12
  /** Alignment keep threshold, cosine in 1e-6 units. */
  val M8Threshold = 200000L

  /** M8: the LAION curation op — keep an (image, alt-text) pair only if
    * the two embeddings align (Schuhmann et al. 2022 filter CLIP-scored
    * pairs at cosine ≥ 0.28; web-scraped alt-text is wrong for a large
    * fraction of images, and this filter IS the dataset's quality gate).
    * The caption is the document's first [[M8CaptionWords]] words; the
    * image is m1/m5's planted container whose payload only exists after
    * a REAL binary decode. Both sides embed into the same 64-bucket
    * feature-hash grid ([[MediaDecode.grid]] — m5's recipe, the
    * sanctioned deterministic stand-in for a learned joint-embedding
    * space): the image side inside the decode seam (payload bytes are
    * not relational), the caption side relationally (md5 buckets ARE
    * expressible work — m1's discipline), and the score is the exact
    * cosine between count grids, floored to 1e-6 units (v1's recipe).
    * Docs with `doc_id % 5 = 0` get their caption REVERSED — the planted
    * "scraper read the wrong DOM element" misalignment: a reversed word
    * order shares no 3-shingles with the payload, so those pairs score
    * near zero and the threshold drops them. A ≤-caption-length doc
    * whose caption is intact covers its whole payload: its cosine is
    * EXACTLY 1e6 — the gate's built-in proof that `parse ∘ plant ≡ id`
    * survives through the embedding arithmetic (pinned in the spec).
    *
    * Scale shape: one decode-seam pass for the image grids (map-only,
    * behind [[fanOut]]), one map-only caption pass, one doc_id-keyed
    * equi-join of two 64-long arrays, and the cosine is a codegen'd
    * vector_dot — no shuffle anywhere but the join, no candidate
    * explosion (the score is per-PAIR, not per-pair-of-docs). */
  val m8ClipFilter: Q = (spark, dir) => {
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val docs = fanOut(spark, t(spark, dir, "documents"))
    val img = docs.select(col("doc_id"), plantedMedia.as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) =>
          val sh = MediaDecode.shingles(MediaDecode.payloadText(bytes))
          MediaGrid(id, sh.size.toLong, MediaDecode.grid(md, sh))
        }
      }.toDF()
    val cap = docs
      .withColumn("cw0", expr(s"slice(split(lower(text), ' '), 1, $M8CaptionWords)"))
      .withColumn("cw", when(pmod(col("doc_id"), lit(5)) === 0, reverse(col("cw0")))
        .otherwise(col("cw0")))
      .filter(size(col("cw")) >= 3)
      .withColumn("csh", expr(
        "array_distinct(transform(sequence(0, size(cw) - 3), i -> concat_ws(' ', cw[i], cw[i+1], cw[i+2])))"))
      .withColumn("cbk", expr(
        "transform(csh, s -> cast(conv(substring(md5(s),1,15),16,10) as bigint) % 64)"))
      .withColumn("cgrid", expr(
        "transform(sequence(0, 63), k -> cast(size(filter(cbk, b -> b = k)) as bigint))"))
      .select(col("doc_id"), size(col("csh")).cast(LongType).as("n_cap"), col("cgrid"))
    cap.join(img, "doc_id")
      .filter(col("n_cap") >= 1 && col("n_img") >= 1)
      .withColumn("cd", expr("transform(cgrid, x -> cast(x as double))"))
      .withColumn("gd", expr("transform(igrid, x -> cast(x as double))"))
      .withColumn("cos_e6", e6(expr("vector_dot(cd, gd)") /
        (sqrt(expr("vector_dot(cd, cd)")) * sqrt(expr("vector_dot(gd, gd)")))))
      .withColumn("keep", col("cos_e6") >= M8Threshold)
      .select(col("doc_id"), col("n_cap"), col("n_img"), col("cos_e6"), col("keep"))
      // r14 opt: sort-sampling would re-run the grid join + the cosine
      // lambdas (see d14bNamePairs); the checkpoint is output-sized
      .localCheckpoint()
      .orderBy(col("doc_id"))
  }

  // ---- M3: audio-container plumbing (WAV/RIFF chunk walk) ------------------

  final case class AudioMeta(doc_id: Long, n_bytes: Long, sha256_hex: String,
                             codec: String, sample_rate: Long, channels: Long,
                             n_frames: Long, duration_ms: Long, n_windows: Long)

  /** Little-endian 16/32-bit byte strings from a numeric column —
    * codegen'd (hex/unhex/concat), the byte-order twin of m1's
    * big-endian `lpad(hex(...))` writes. */
  private def leByte(c: Column, i: Int): Column =
    unhex(lpad(hex(pmod(shiftright(c.cast(LongType), 8 * i), lit(256))), 2, "0"))
  private def le16(c: Column): Column = concat(leByte(c, 0), leByte(c, 1))
  private def le32(c: Column): Column =
    concat(leByte(c, 0), leByte(c, 1), leByte(c, 2), leByte(c, 3))

  /** Audio twin of m1: every doc becomes a REAL WAV container — RIFF
    * header, canonical 16-byte PCM `fmt ` chunk (channels/rate planted
    * from per-doc formulas, s16le), an odd-sized `LIST INFO` chunk, then
    * the `data` chunk carrying the text bytes as stand-in PCM — built as
    * a codegen'd binary `concat` with little-endian field writes (RIFF's
    * byte order; m1's PNG/JPEG walk is big-endian, so the two seams can't
    * share a lazy byte reader). The mapPartitions seam then performs a
    * genuine RIFF CHUNK WALK: verify `RIFF`/`WAVE`, then hop chunk to
    * chunk by each 8-byte header's little-endian size — honoring the
    * spec's pad rule (odd-sized chunks are padded to even, which the
    * planted LIST chunk exercises) — parsing `fmt ` when it passes and
    * stopping at `data`. Frame count, duration and the 25 ms / 10 ms hop
    * analysis-window count (the STFT/MFCC front-end shape) are integer
    * arithmetic over the PARSED fields only; the oracle recomputes the
    * planting formulas, so a hash match proves `parse ∘ plant ≡ id`
    * through the walk. The content digest stays a codegen'd `sha2`
    * column (m1's split: relational work outside the imperative seam). */
  /** PCM stand-in = the text repeated 1-4× — long enough that the
    * 25 ms / 10 ms window count exercises the hop arithmetic, not just
    * the zero/one boundary. Shared by m3's meta walk and m6's
    * fingerprint (one plant, no drift). */
  private def wavPcm: Column = expr("repeat(text, 1 + cast(doc_id % 4 as int))")

  /** m3's WAV plant (RIFF/fmt/LIST-with-pad/data) over [[wavPcm]]. */
  private def wavPayload: Column = {
    val channels = (lit(1) + pmod(col("doc_id"), lit(2))).cast(LongType)
    val rate = (lit(8000) * (lit(1) + pmod(col("doc_id"), lit(3)))).cast(LongType)
    val dataSize = length(encode(wavPcm, "UTF-8")).cast(LongType)
    val fmtChunk = concat(
      lit("fmt ".getBytes("US-ASCII")), le32(lit(16)),
      le16(lit(1)),                       // PCM
      le16(channels), le32(rate),
      le32(rate * channels * 2),          // byte rate
      le16(channels * 2), le16(lit(16)))  // block align, bits
    val listChunk = concat(               // odd size 5 ⇒ one pad byte
      lit("LIST".getBytes("US-ASCII")), le32(lit(5)),
      lit("INFOx".getBytes("US-ASCII")), unhex(lit("00")))
    concat(
      lit("RIFF".getBytes("US-ASCII")), le32(dataSize + 50),
      lit("WAVE".getBytes("US-ASCII")),
      fmtChunk, listChunk,
      lit("data".getBytes("US-ASCII")), le32(dataSize),
      encode(wavPcm, "UTF-8"))
  }

  val m3AudioMeta: Q = (spark, dir) => {
    import spark.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"), wavPayload.as("payload"),
        sha2(encode(wavPcm, "UTF-8"), 256).as("sha256_hex"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        def le16(b: Array[Byte], off: Int): Long =
          (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8)
        def le32(b: Array[Byte], off: Int): Long =
          le16(b, off) | (le16(b, off + 2) << 16)
        def tag(b: Array[Byte], off: Int): String =
          new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
        it.map { case (id, bytes, hex) =>
          val bad = AudioMeta(id, bytes.length.toLong, hex, "unknown", 0, 0, 0, 0, 0)
          if (bytes.length < 12 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") bad
          else {
            var pos = 12
            var fmt = 0L; var ch = 0L; var rate = 0L; var bits = 0L
            var dataLen = -1L
            while (dataLen < 0 && pos + 8 <= bytes.length) {
              val id4 = tag(bytes, pos)
              val size = le32(bytes, pos + 4)
              if (id4 == "fmt " && size >= 16) {
                fmt = le16(bytes, pos + 8); ch = le16(bytes, pos + 10)
                rate = le32(bytes, pos + 12); bits = le16(bytes, pos + 22)
              }
              if (id4 == "data") dataLen = size
              else pos += 8 + size.toInt + (size.toInt & 1) // RIFF pad rule
            }
            if (dataLen < 0 || fmt != 1 || ch == 0 || rate == 0 || bits != 16) bad
            else {
              val frames = dataLen / (ch * 2)
              val win = rate / 40; val hop = rate / 100 // 25 ms / 10 ms
              AudioMeta(id, bytes.length.toLong, hex, "pcm_s16le", rate, ch,
                frames, frames * 1000 / rate,
                if (frames >= win) 1 + (frames - win) / hop else 0)
            }
          }
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  // ---- M6: audio fingerprint near-dup (chromaprint-shaped) -----------------

  /** CDC rolling-window width / boundary divisor (expected chunk =
    * [[AfpCdcD]] units). */
  val AfpCdcW = 8
  val AfpCdcD = 16

  final case class AFp(doc_id: Long, n_fr: Long,
                       b0: Long, b1: Long, b2: Long, b3: Long,
                       fids: Array[Long])

  /** Audio near-dup — the m-ladder's audio twin of m5 (dedup podcasts /
    * re-uploaded tracks in an audio corpus): m3's WAV containers are
    * opened by the REAL RIFF chunk walk (fmt parse, pad rule, data
    * chunk), then the decoded stream splits by CONTENT-DEFINED CHUNKING
    * — a boundary wherever the rolling [[AfpCdcW]]-window hash ≡ 0 mod
    * [[AfpCdcD]], the storage-dedup primitive (LBFS/Rabin CDC) — so a
    * local edit or a shifted re-encode perturbs only neighboring chunks
    * while fixed-offset frames would desync everywhere after it. Chunk
    * ids histogram into 64 buckets, above-mean buckets set bits, 4×16-bit
    * Hamming-LSH bands generate candidates (zero bands skipped — no
    * signal, and it kills the short-clip cross-pairing blowup), and
    * candidates verify with exact Jaccard over each clip's DISTINCT
    * chunk-id set — the audio-domain verify (m5 verified on text
    * shingles). One 60-bit md5 long per chunk serves bucket (`cid % 64`),
    * band bits and verify identity, and the oracle replays the ENTIRE
    * pipeline from the planted PCM — no probabilistic recall assumption
    * anywhere. Streams shorter than the CDC window carry no fingerprint.
    *
    * Scale shape: fingerprinting is map-only in the scan stage (one
    * container parse + rolling-hash pass per clip, 4 band longs out);
    * the candidate join is a band-bucket equi-join; only candidate pairs
    * fetch chunk sets. */
  val m6AudioFingerprint: Q = (spark, dir) => {
    import spark.implicits._
    val docs = fanOut(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), wavPayload.as("payload"))
      .as[(Long, Array[Byte])]
    val fp = docs.mapPartitions { it =>
      def le16(b: Array[Byte], off: Int): Long =
        (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8)
      def le32(b: Array[Byte], off: Int): Long =
        le16(b, off) | (le16(b, off + 2) << 16)
      def tag(b: Array[Byte], off: Int): String =
        new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val md = java.security.MessageDigest.getInstance("MD5")
      // == parseLong(hexDigest.substring(0, 15), 16): the first 15 hex
      // nibbles are the big-endian first-8-bytes value >>> 4 — computed
      // straight from the digest bytes (no per-call hex formatting; this
      // runs once per ROLLING-WINDOW POSITION, ~corpus-length times).
      // A production CDC uses an O(1) rolling Rabin here; the md5 window
      // keeps the boundary rule cross-engine-exact for the oracle.
      def fid(s: String): Long = {
        md.reset()
        val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
          ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
      }
      def chunkIds(s: String): Array[Long] = {
        if (s.length < AfpCdcW) return Array.empty
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        var prev = 0
        var p = AfpCdcW
        while (p <= s.length) {
          if (fid(s.substring(p - AfpCdcW, p)) % AfpCdcD == 0) {
            ids += fid(s.substring(prev, p)); prev = p
          }
          p += 1
        }
        if (prev < s.length) ids += fid(s.substring(prev))
        ids.toArray
      }
      it.map { case (id, bytes) =>
        // m3's walk: locate the data chunk through the RIFF pad rule
        var stream = ""
        if (bytes.length >= 12 && tag(bytes, 0) == "RIFF" && tag(bytes, 8) == "WAVE") {
          var pos = 12
          var done = false
          while (!done && pos + 8 <= bytes.length) {
            val id4 = tag(bytes, pos)
            val size = le32(bytes, pos + 4).toInt
            if (id4 == "data") {
              stream = new String(bytes, pos + 8, math.min(size, bytes.length - pos - 8),
                java.nio.charset.StandardCharsets.UTF_8)
              done = true
            } else pos += 8 + size + (size & 1)
          }
        }
        // Boundary-rule parity: the rolling window below indexes by Java
        // UTF-16 code units while the DuckDB oracle's substr counts
        // codepoints — identical for every BMP string (1 unit = 1
        // codepoint) and divergent only across surrogate pairs. The
        // corpus is ASCII; fail loudly on non-BMP input rather than let
        // chunk boundaries silently drift between engine and oracle.
        require(!stream.exists(Character.isSurrogate),
          s"m6: non-BMP text in doc $id — code-unit vs codepoint chunk boundaries would diverge")
        val cids = chunkIds(stream)
        val hist = new Array[Long](64)
        cids.foreach(c => hist((c % 64L).toInt) += 1)
        val bands = new Array[Long](4)
        var k = 0
        while (k < 64) {
          if (64L * hist(k) > cids.length) bands(k / 16) |= 1L << (k % 16)
          k += 1
        }
        // the DISTINCT chunk-id set rides along for the verify join —
        // same pass, so the whole audio path runs off the parsed bytes
        // (and never re-hashes positions in an interpreted SQL lambda)
        AFp(id, cids.length.toLong, bands(0), bands(1), bands(2), bands(3),
          cids.distinct.sorted)
      }
    }.toDF().filter(col("n_fr") >= 1).localCheckpoint() // both sides of the self-join
    val sides = fp.select(col("doc_id"),
      array(col("b0"), col("b1"), col("b2"), col("b3")).as("bv"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
      .toDF("doc_id", "bv", "band", "v")
      .filter(col("v") =!= 0L)
    val fids = fp.select(col("doc_id"), col("fids"),
      size(col("fids")).cast(LongType).as("n"))
    val cand = sides.as("x").join(sides.as("y"),
        col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        expr("aggregate(sequence(0, 3), 0L," +
          " (acc, i) -> acc + bit_count(x.bv[i] ^ y.bv[i]))").as("hamming"))
      .distinct()
    cand
      .join(fids.select(col("doc_id").as("a_id"), col("fids").as("fa"), col("n").as("na")), "a_id")
      .join(fids.select(col("doc_id").as("b_id"), col("fids").as("fb"), col("n").as("nb")), "b_id")
      .withColumn("inter", size(array_intersect(col("fa"), col("fb"))).cast(LongType))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(lit(2) * col("inter") >= col("uni"))
      .select(col("a_id"), col("b_id"), col("hamming"),
        expr("inter * 1000000 div uni").as("jaccard_ppm"))
      // r14 opt: sort-sampling would re-run the candidate fetch joins and
      // the array_intersect verify (see d14bNamePairs); output-sized
      .localCheckpoint()
      .orderBy(col("a_id"), col("b_id"))
  }

  // ---- M4: video-container plumbing (MP4/ISO-BMFF box walk) ----------------

  final case class VideoMeta(doc_id: Long, n_bytes: Long, sha256_hex: String,
                             codec: String, timescale: Long, duration_ms: Long,
                             n_traks: Long, mdat_bytes: Long)

  /** Video leg of the multimodal triple (m1 image, m3 audio): every doc
    * becomes a real ISO-BMFF container — `ftyp`, a `moov` whose children
    * are a spec-layout version-0 `mvhd` (timescale/duration at their real
    * offsets) and 1-3 `trak` boxes each nesting a `tkhd` leaf, then an
    * `mdat` carrying the text bytes — built as a codegen'd binary concat
    * with big-endian size+type box headers. The mapPartitions seam then
    * performs a genuinely RECURSIVE box walk (the structure PNG/JPEG/RIFF
    * walks don't have): top-level boxes by their size fields, descending
    * into `moov`/`trak` containers, parsing `mvhd` fields and counting
    * `trak`s wherever they sit. Duration math is integer over PARSED
    * fields; the oracle recomputes the planting formulas, so the hash
    * proves `parse ∘ plant ≡ id` through nested binary structure. */
  /** m4's ISO-BMFF plant (ftyp / moov[mvhd + 1-3 nested traks] / mdat
    * carrying the text bytes), big-endian box headers, fully codegen'd.
    * Shared by m4's meta walk and m7's fingerprint — one plant, no
    * drift. */
  private def mp4Payload: Column = {
    def be32(c: Column): Column = unhex(lpad(hex(c.cast(LongType)), 8, "0"))
    val timescale = (lit(600) * (lit(1) + pmod(col("doc_id"), lit(4)))).cast(LongType)
    val durUnits = (col("n_chars") * (lit(1) + pmod(col("doc_id"), lit(3)))).cast(LongType)
    val nTraks = (lit(1) + pmod(col("doc_id"), lit(3))).cast(IntegerType)
    val ftyp = concat(be32(lit(16)), lit("ftypisom".getBytes("US-ASCII")),
      unhex(lit("00000200")))
    val mvhd = concat(be32(lit(28)), lit("mvhd".getBytes("US-ASCII")),
      unhex(lit("00000000")),                 // version 0 + flags
      unhex(lit("0000000000000000")),         // creation/modification time
      be32(timescale), be32(durUnits))
    // trak(24) = header(8) + tkhd leaf(16): real nesting for the walker
    val trak = concat(be32(lit(24)), lit("trak".getBytes("US-ASCII")),
      be32(lit(16)), lit("tkhd".getBytes("US-ASCII")), unhex(lit("0000000000000000")))
    val moovSize = lit(8) + lit(28) + nTraks * lit(24)
    val mdatPayload = encode(col("text"), "UTF-8")
    val mdat = concat(be32(lit(8) + length(mdatPayload)),
      lit("mdat".getBytes("US-ASCII")), mdatPayload)
    concat(ftyp,
      be32(moovSize), lit("moov".getBytes("US-ASCII")), mvhd,
      // 1-3 planted traks: concat of conditionally-empty copies keeps the
      // build codegen'd (no higher-order byte lambda)
      trak,
      when(nTraks >= 2, trak).otherwise(lit(Array.emptyByteArray)),
      when(nTraks >= 3, trak).otherwise(lit(Array.emptyByteArray)),
      mdat)
  }

  val m4VideoMeta: Q = (spark, dir) => {
    import spark.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"), mp4Payload.as("payload"),
        sha2(encode(col("text"), "UTF-8"), 256).as("sha256_hex"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        def be32(b: Array[Byte], off: Int): Long =
          ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
            ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
        def tag(b: Array[Byte], off: Int): String =
          new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
        it.map { case (id, bytes, hex) =>
          var timescale = 0L; var dur = 0L; var traks = 0L; var mdatLen = -1L
          var isom = false
          // recursive box walk: containers descend, leaves parse
          def walk(start: Int, end: Int): Unit = {
            var pos = start
            while (pos + 8 <= end) {
              val size = be32(bytes, pos).toInt
              if (size < 8 || pos + size > end) return // malformed: stop
              tag(bytes, pos + 4) match {
                case "ftyp" => isom = tag(bytes, pos + 8) == "isom"
                case "moov" | "mdia" => walk(pos + 8, pos + size)
                case "trak" => traks += 1; walk(pos + 8, pos + size)
                case "mvhd" if size >= 28 && bytes(pos + 8) == 0 => // version 0
                  timescale = be32(bytes, pos + 20); dur = be32(bytes, pos + 24)
                case "mdat" => mdatLen = size - 8L
                case _ => ()
              }
              pos += size
            }
          }
          walk(0, bytes.length)
          if (!isom || timescale == 0 || mdatLen < 0)
            VideoMeta(id, bytes.length.toLong, hex, "unknown", 0, 0, 0, 0)
          else
            VideoMeta(id, bytes.length.toLong, hex, "mp4/isom", timescale,
              dur * 1000 / timescale, traks, mdatLen)
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  // ---- M7: video perceptual near-dup (frame-sampled fingerprints) ----------

  final case class VFp(doc_id: Long, n_fr: Long,
                       b0: Long, b1: Long, b2: Long, b3: Long, fids: Seq[Long])

  /** m7's frame sampler: a window every [[M7FrameHop]] stream positions,
    * [[M7FrameW]] wide — fixed STRIDE, not m2's evenly-spaced division,
    * so a tail edit leaves every earlier frame's offset (and feature)
    * intact. The deliberate contrast with m6: fixed-stride sampling is
    * the standard video practice (sample every Δt) and is robust to
    * APPEND/tail edits but desyncs after an insertion — m6's CDC is the
    * shift-robust alternative; together they are both halves of the
    * fingerprinting trade-off. */
  val M7FrameHop = 48
  val M7FrameW = 32
  /** Small-clip cutoff for the exact-frame candidate channel: a J ≥ ½
    * pair whose smaller side has n ≤ [[M7SmallMax]] distinct frames
    * must share ≥ ⌈uni/2⌉ ≥ 1 exact frame id (2·min ≥ max ⇒ inter ≥ 1),
    * so joining small clips on shared fid is COMPLETE for that class —
    * the class band patterns are too sparse to witness. */
  val M7SmallMax = 4

  /** Video near-dup — the third leg of the multimodal dedup triple (m5
    * image aHash, m6 audio CDC fingerprint): m4's recursive ISO-BMFF box
    * walk locates the `mdat` stream inside real nested boxes, fixed-
    * stride frame windows hash to 60-bit md5 features (the m5/m6 grid
    * stand-in for a pixel decoder — no codec libs ship in this
    * container), features histogram into 64 buckets, above-mean buckets
    * set bits, and candidates come from TWO exact channels — 4×16-bit
    * Hamming-LSH bands gated at bit_count ≥ 2 (a 1-bit band is a single
    * bucket, not a pattern; ungated it cross-pairs sparse clips
    * quadratically), plus an exact-shared-frame join for small clips
    * (≤ [[M7SmallMax]] distinct frames), which is provably complete for
    * that class at J ≥ ½ — then candidates verify with exact Jaccard
    * over each clip's DISTINCT frame-feature set. Every stage is
    * engine-portable (md5 buckets, integer thresholds, popcounts), so
    * the DuckDB oracle replays the ENTIRE pipeline from the planted
    * boxes — recall is graded, never assumed.
    *
    * Scale shape: fingerprinting is map-only in the scan stage (one box
    * walk + |stream|/hop md5s per clip — cheaper than m6's per-position
    * window); the candidate join is a band-bucket equi-join; only
    * candidate pairs fetch frame sets. Exact duplicates COLLAPSE FIRST
    * (d14's discipline — the fingerprint is a pure function of the mdat
    * stream, i.e. the text): on a clone-replicated tier every stage
    * from the box walk to the verify runs once per DISTINCT clip, and
    * id pairs expand from verified rep pairs at the end — the k² term
    * pays output size, not walk/verify work (the sf1 sweep read 30 s
    * pre-collapse: candidate pairs grow quadratically in the clone
    * factor). Intra-group pairs (identical clips) emit hamming 0 /
    * Jaccard 1e6 directly — exactly what the per-id pipeline computed
    * for them — and only for groups whose rep carries a nonzero band,
    * matching the banded path's no-signal exclusion. */
  val m7VideoFingerprint: Q = (spark, dir) => {
    import spark.implicits._
    val keyed = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"),
        md5(col("text")).as("tkey"))
    val reps = keyed.groupBy(col("tkey"))
      .agg(min_by(struct(col("doc_id"), col("text"), col("n_chars")),
        col("doc_id")).as("r"))
      .select(col("tkey"), col("r.doc_id").as("doc_id"),
        col("r.text").as("text"), col("r.n_chars").as("n_chars"))
      .localCheckpoint() // feeds the fingerprint scan AND the rid map
    val rmap = keyed.select(col("doc_id"), col("tkey"))
      .join(reps.select(col("tkey"), col("doc_id").as("rid")), "tkey")
      .select(col("doc_id"), col("rid"))
      .localCheckpoint() // both expansion fetches + the intra self-join
    val docs = fanOut(spark, reps)
      .select(col("doc_id"), mp4Payload.as("payload"))
      .as[(Long, Array[Byte])]
    val fp = docs.mapPartitions { it =>
      def be32(b: Array[Byte], off: Int): Long =
        ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
          ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
      def tag(b: Array[Byte], off: Int): String =
        new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val md = java.security.MessageDigest.getInstance("MD5")
      // first 15 hex nibbles of md5 as a long (m6's fid convention)
      def fid(s: String): Long = {
        md.reset()
        val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
          ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
      }
      it.map { case (id, bytes) =>
        // m4's walk, fingerprint edition: hop top-level boxes by their
        // size fields to the mdat (ftyp/moov skipped by size — the same
        // length-honoring traversal, no offset guessing)
        var stream = ""
        var pos = 0
        while (pos + 8 <= bytes.length) {
          val size = be32(bytes, pos).toInt
          if (size < 8 || pos + size > bytes.length) pos = bytes.length
          else {
            if (tag(bytes, pos + 4) == "mdat")
              stream = new String(bytes, pos + 8, size - 8,
                java.nio.charset.StandardCharsets.UTF_8)
            pos += size
          }
        }
        // same BMP guard as m6: the stride below walks UTF-16 code units,
        // the oracle's substr counts codepoints
        require(!stream.exists(Character.isSurrogate),
          s"m7: non-BMP text in doc $id — code-unit vs codepoint frame offsets would diverge")
        val nFr = if (stream.length >= M7FrameW)
          (stream.length - M7FrameW) / M7FrameHop + 1 else 0
        val ids = new Array[Long](nFr)
        var k = 0
        while (k < nFr) {
          ids(k) = fid(stream.substring(k * M7FrameHop, k * M7FrameHop + M7FrameW))
          k += 1
        }
        val hist = new Array[Long](64)
        ids.foreach(c => hist((c % 64L).toInt) += 1)
        val bands = new Array[Long](4)
        k = 0
        while (k < 64) {
          if (64L * hist(k) > nFr) bands(k / 16) |= 1L << (k % 16)
          k += 1
        }
        VFp(id, nFr.toLong, bands(0), bands(1), bands(2), bands(3),
          ids.distinct.sorted)
      }
    }.toDF().filter(col("n_fr") >= 1).localCheckpoint() // both sides of the self-join
    // Channel A — banded Hamming-LSH, but a band is a match witness
    // only when it carries a PATTERN: bit_count(v) >= 2. A 1-bit band
    // is a single bucket, and sparse clips sharing one hot bucket
    // cross-pair quadratically (measured 22M candidate pairs at sf1,
    // 2.7M with the popcount gate — the same class of blowup the
    // zero-band skip removes, one bit further).
    val sides = fp.select(col("doc_id"),
      array(col("b0"), col("b1"), col("b2"), col("b3")).as("bv"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
      .toDF("doc_id", "bv", "band", "v")
      .filter(expr("bit_count(v)") >= 2)
    val fids = fp.select(col("doc_id"), col("fids"),
      size(col("fids")).cast(LongType).as("n"))
    val candA = sides.as("x").join(sides.as("y"),
        col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
    // Channel B — the sparse clips the popcount gate excludes: for a
    // J >= 1/2 pair whose smaller side has n <= M7SmallMax distinct
    // frames, 2*min >= max forces >= 1 EXACT shared frame id, so the
    // small-small join on fid is complete for that class (see
    // M7SmallMax). Small side is tiny, fid values are 60-bit hashes —
    // the join output is true-shared-frame pairs, never a cross.
    val small = fids.filter(col("n") <= M7SmallMax)
      .select(col("doc_id"), explode(col("fids")).as("fid"))
    val candB = small.as("x").join(small.as("y"),
        col("x.fid") === col("y.fid") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
    val cand = candA.unionByName(candB).distinct()
    val bvOf = fp.select(col("doc_id"),
      array(col("b0"), col("b1"), col("b2"), col("b3")).as("bv"))
    val repPairs = cand
      .join(bvOf.select(col("doc_id").as("a_id"), col("bv").as("bva")), "a_id")
      .join(bvOf.select(col("doc_id").as("b_id"), col("bv").as("bvb")), "b_id")
      .withColumn("hamming", expr("aggregate(sequence(0, 3), 0L," +
        " (acc, i) -> acc + bit_count(bva[i] ^ bvb[i]))"))
      .join(fids.select(col("doc_id").as("a_id"), col("fids").as("fa"), col("n").as("na")), "a_id")
      .join(fids.select(col("doc_id").as("b_id"), col("fids").as("fb"), col("n").as("nb")), "b_id")
      .withColumn("inter", size(array_intersect(col("fa"), col("fb"))).cast(LongType))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(lit(2) * col("inter") >= col("uni"))
      .select(col("a_id").as("a_rid"), col("b_id").as("b_rid"), col("hamming"),
        expr("inter * 1000000 div uni").as("jaccard_ppm"))
    // expand verified rep pairs to id pairs (disjoint groups — each
    // unordered pair appears exactly once; hamming/Jaccard are symmetric
    // so the least/greatest canonicalization changes nothing) ...
    val cross = repPairs
      .join(rmap.select(col("rid").as("a_rid"), col("doc_id").as("ia")), "a_rid")
      .join(rmap.select(col("rid").as("b_rid"), col("doc_id").as("ib")), "b_rid")
      .select(least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id"),
        col("hamming"), col("jaccard_ppm"))
    // ... plus the identical-clip pairs within each group whose rep is
    // reachable by EITHER candidate channel (a ≥2-bit band pattern, or
    // small enough for the exact-frame join) — the same gate a same-
    // fingerprint pair of distinct docs passes
    val active = rmap.join(
      sides.select(col("doc_id")).unionByName(small.select(col("doc_id")))
        .distinct().withColumnRenamed("doc_id", "rid"), Seq("rid"), "left_semi")
    val intra = active.as("x").join(active.as("y"),
        col("x.rid") === col("y.rid") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        lit(0L).as("hamming"), lit(1000000L).as("jaccard_ppm"))
    // r14 opt: sort-sampling would re-run the verify + both expansion
    // joins (see d14bNamePairs); the checkpoint is output-sized
    cross.unionByName(intra).localCheckpoint().orderBy(col("a_id"), col("b_id"))
  }

  // ---- M2: frame sampling (one row per sampled frame) ----------------------

  /** Frame-sample plumbing: each payload yields `1 + n_chars % 8` evenly
    * spaced frames via a generator (explode over a per-row sequence) —
    * the row-shape a video/audio frame extractor produces. The "decode"
    * is a deterministic window digest (no codec libs in this container);
    * offsets/fan-out/ordering are the real, oracle-checked part. */
  val m2FrameSample: Q = (spark, dir) =>
    t(spark, dir, "documents")
      .withColumn("n_frames", (lit(1) + pmod(col("n_chars"), lit(8))).cast(IntegerType))
      .select(col("doc_id"), col("text"), col("n_chars"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
      .withColumn("frame_off",
        (floor(col("frame_idx") * col("n_chars") / col("n_frames")) + 1).cast(IntegerType))
      .select(col("doc_id"), col("frame_idx"), col("n_frames"), col("frame_off"),
        md5(expr("substring(text, frame_off, 32)")).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx"))

  // ---- D6: dedup cluster assignment (connected components) -----------------

  /** Connected components of an undirected pair graph `(a, b)` → one
    * `(v, l)` row per vertex, `l` = the component's minimum vertex id.
    *
    * Phase 1 — iterative min-label propagation: each round every vertex
    * takes `min(own label, neighbours' labels)` via one equi-join + one
    * min-aggregate, converging in ≤ diameter rounds. The driver loop is
    * over ITERATIONS (each round's convergence check is a scalar
    * aggregate, the same control shape as GraphX Pregel); all row work is
    * joins and aggregates on (vertex, label) longs. LSH components are
    * near-cliques of bounded size, so the diameter — and the round count —
    * is small and independent of corpus size.
    *
    * Phase 2 — if propagation has not converged within `propRounds`
    * (a high-diameter graph: adversarial paths, chained near-dups), switch
    * to the two-phase large-star/small-star alternation (Kiveris et al.
    * 2014, "Connected Components in MapReduce and Beyond"): each
    * large-star hangs every vertex's larger neighbours onto its minimum
    * neighbour, each small-star re-hangs the smaller ones, contracting
    * any graph to its star forest in O(log²) rounds REGARDLESS of
    * diameter — same join/agg building blocks, no new machinery. The
    * final edge set is one star per component, centred on the minimum.
    *
    * Each round of either phase ends in a `localCheckpoint` so lineage
    * stays O(1) instead of O(rounds), and superseded blocks are released
    * by the ContextCleaner. */
  private[graft] def connectedComponents(pairs0: DataFrame,
                                         propRounds: Int = 12): DataFrame = {
    val pairs = pairs0.toDF("a", "b")
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val edges = pairs.select(col("a").as("u"), col("b").as("v"))
      .union(pairs.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint()
    // both directions are present, so every vertex appears as a `u`.
    // r15 opt: vertices stays LAZY — the labels checkpoint materializes
    // the same rows one line later, and the only other consumer is the
    // rare starLabels fallback (which re-runs one distinct then)
    val vertices = edges.select(col("u").as("v")).distinct()
    var labels = vertices.withColumn("l", col("v")).localCheckpoint()
    // labels only ever DECREASE, so Σl strictly decreases iff any label
    // changed — one aggregate on the label frame is the whole convergence
    // check (decimal: a bigint Σ of ~1e10 64-bit ids could wrap; coalesce:
    // an empty pair graph sums to NULL, which must read as converged)
    def labelSum(): java.math.BigDecimal =
      labels.agg(coalesce(sum(col("l").cast(DecimalType(38, 0))),
        lit(java.math.BigDecimal.ZERO))).head().getDecimal(0)
    var prevSum = labelSum()
    var converged = false
    var rounds = 0
    while (!converged && rounds < propRounds) {
      val nbrMin = edges.join(labels.withColumnRenamed("v", "u"), "u")
        .groupBy(col("v")).agg(min(col("l")).as("nl"))
      labels = labels.join(nbrMin, Seq("v"), "left")
        .select(col("v"), least(col("l"), coalesce(col("nl"), col("l"))).as("l"))
        .localCheckpoint()
      val curSum = labelSum()
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      rounds += 1
    }
    if (converged) labels else starLabels(pairs, vertices)
  }

  /** Kiveris et al.'s large-star: for every vertex u with neighbourhood
    * N(u) and m = min(N(u) ∪ {u}), connect each LARGER neighbour v > u
    * directly to m. Emitted pairs always run (larger, smaller). */
  private def largeStar(e: DataFrame): DataFrame = {
    val dir = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val mins = dir.groupBy(col("u")).agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    dir.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Kiveris et al.'s small-star: orient every edge large→small, and for
    * each vertex u re-hang its (all smaller) neighbours and u itself onto
    * m = min(N(u)). */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("a"), col("b")).as("u"),
      least(col("a"), col("b")).as("v")).distinct()
    val j = dir.join(dir.groupBy(col("u")).agg(min(col("v")).as("m")), "u")
    j.filter(col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
      .union(j.select(col("u").as("a"), col("m").as("b")))
      .distinct()
  }

  /** Alternate large-star/small-star to the fixpoint star forest, then
    * read labels off the stars (leaf → centre, centre → itself). The
    * fixpoint is exact set-equality of consecutive edge sets — both are
    * deduped, so equal count + empty difference ⇒ equal. */
  private def starLabels(pairs: DataFrame, vertices: DataFrame): DataFrame = {
    var cur = pairs.localCheckpoint()
    var stable = false
    var iters = 0
    while (!stable && iters < 60) {
      val next = smallStar(largeStar(cur)).localCheckpoint()
      stable = next.count() == cur.count() && next.except(cur).isEmpty
      cur = next
      iters += 1
    }
    // 60 halvings cover any conceivable diameter (2^60); a non-fixpoint
    // here means the edge set is oscillating, i.e. a bug — fail loudly
    // rather than emit inconsistent components
    require(stable, s"large-star/small-star did not reach a fixpoint in $iters rounds")
    val leaves = cur.select(greatest(col("a"), col("b")).as("v"),
      least(col("a"), col("b")).as("l"))
    val centers = vertices.join(leaves, Seq("v"), "left_anti")
      .select(col("v"), col("v").as("l"))
    leaves.union(centers)
  }

  /** Collapse the near-dup PAIR graph (d2's verified MinHash pairs) into
    * CLUSTERS: every document in a non-trivial near-dup component gets the
    * component's minimum doc_id as its canonical representative, plus the
    * component size — the final step that turns pair mining into an
    * actionable keep/drop list (docs absent from every pair are implicitly
    * their own canonical). Components come from [[connectedComponents]]:
    * min-label propagation sized for LSH near-cliques, with the
    * large-star/small-star fallback covering high-diameter graphs. */
  val d6DedupClusters: Q = (spark, dir) =>
    // declared query = core + deterministic output order (see d2Pairs)
    d6Labels(spark, dir).orderBy(col("doc_id"))

  /** d6's cluster labeling, unsorted — the reusable core of
    * [[d6DedupClusters]]; internal consumers (d19/k5/t21/pipe) never
    * needed the global sort (r14 opt). */
  private[queries] def d6Labels(spark: SparkSession, dir: String): DataFrame = {
    // r15 opt: d2Pairs is already localCheckpoint'd — re-materializing a
    // 2-column projection of it was a redundant barrier (one extra job +
    // block write per consumer query)
    val pairs = d2Pairs(spark, dir).select(col("a_id"), col("b_id"))
    val labels = connectedComponents(pairs)
    val sizes = labels.groupBy(col("l")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "l")
      .select(col("v").as("doc_id"), col("l").as("canonical_id"), col("cluster_size"))
  }

  // ---- D19: quality-aware canonical election per near-dup cluster ----------

  /** D19: the KEEP decision dedup actually ships. d6 labels each near-dup
    * component and elects the MIN-ID member — the arbitrary-but-stable
    * convention CC gives for free. Production pipelines keep the
    * highest-QUALITY duplicate instead (the RefinedWeb/FineWeb keep-best
    * convention): within each component, canonical = argmax t19 quality
    * logit, tie → min doc_id. Composes two existing machines literally —
    * d6's component labeling × [[t19Scored]]'s fixed-weight logit (ONE
    * formula, shared code) — and emits per member the elected doc, both
    * logits and the keep verdict; a min-id election and a quality
    * election disagreeing on a component is exactly the case this
    * operator exists for. Docs outside every pair keep themselves
    * (trivial components are not emitted — d6's convention).
    *
    * Scale shape: d6's labeling cost plus ONE inner join of the labeled
    * members (a vanishing fraction of a deduped corpus) against the
    * corpus — the quality features are map-side expressions evaluated
    * AFTER that join, so only members are featurized — and a
    * component-keyed rank window over members only. All-integer logit
    * (t19's fixed point), so the argmax is engine-exact. */
  val d19CanonicalPick: Q = (spark, dir) => {
    val labels = d6Labels(spark, dir)
      .select(col("doc_id"), col("canonical_id").as("component_id"),
        col("cluster_size"))
    val members = t19Scored(
        labels.join(fanOut(spark, t(spark, dir, "documents")), "doc_id"))
      .select(col("doc_id"), col("component_id"), col("cluster_size"), col("logit6"))
      .localCheckpoint() // feeds the election AND the member join (self-join rule)
    val w = Window.partitionBy(col("component_id"))
      .orderBy(col("logit6").desc, col("doc_id"))
    val best = members.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("component_id"), col("doc_id").as("canonical_doc"),
        col("logit6").as("canonical_logit6"))
    members.join(best, "component_id")
      .withColumn("keep", col("doc_id") === col("canonical_doc"))
      .select(col("doc_id"), col("component_id"), col("cluster_size"),
        col("logit6"), col("canonical_doc"), col("canonical_logit6"), col("keep"))
      .orderBy(col("doc_id"))
  }

  // ---- T5: fixed-size token chunking with overlap --------------------------

  /** Tokens per training chunk. */
  val ChunkSize = 64
  /** Chunk stride (=> [[ChunkSize]]−[[ChunkStride]] tokens of overlap). */
  val ChunkStride = 48

  /** Training-sample construction: split each document's token stream into
    * [[ChunkSize]]-token windows every [[ChunkStride]] tokens (the overlap
    * preserves context across boundaries). Pure generator fan-out inside
    * the scan stage — the per-row `sequence` explode never crosses a
    * shuffle, like m2's frame sampler; output rows carry a digest, not the
    * chunk text, so what does cross the wire is fixed-width. */
  val t5Chunk: Q = (spark, dir) =>
    t(spark, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .withColumn("n", size(col("w")))
      // ⌈(n − size)/stride⌉ + 1 in integer arithmetic (a double ceil can
      // round the wrong way exactly when (n − size) is a stride multiple)
      .withColumn("n_chunks",
        when(col("n") <= ChunkSize, lit(1))
          .otherwise(expr(s"(n - $ChunkSize + $ChunkStride - 1) div $ChunkStride + 1"))
          .cast(IntegerType))
      .select(col("doc_id"), col("w"), col("n"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(ChunkSize), col("n") - col("chunk_idx") * ChunkStride).as("chunk_tokens"),
        md5(array_join(slice(col("w"), col("chunk_idx") * ChunkStride + 1, lit(ChunkSize)), " "))
          .as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  // ---- T6: deterministic stratified sampling -------------------------------

  /** Per-language keep rates in permille: downsample the dominant language
    * (en), keep mid-frequency es at half, keep the tail near-fully —
    * corpus rebalancing for training mixes. */
  val SampleRatePermille: Map[String, Int] = Map("en" -> 200, "es" -> 500)
  val SampleRateDefault = 800

  /** Deterministic hash sampling, stratified by `lang`: keep a document iff
    * `md5(doc_id) mod 1000 < rate(lang)`, emitting the inverse-rate weight
    * for unbiased downstream statistics. Map-only (no shuffle), and —
    * unlike `rand()`-based sampling — reproducible across retries,
    * partitionings and engines: the md5-derived 60-bit key is the same
    * engine-portable idiom d3 uses, so the DuckDB oracle selects the
    * identical rows. */
  val t6SampleStratified: Q = (spark, dir) => {
    val rate = SampleRatePermille.foldLeft(lit(SampleRateDefault)) {
      case (e, (l, r)) => when(col("lang") === l, lit(r)).otherwise(e)
    }
    t(spark, dir, "documents")
      .withColumn("h",
        expr("cast(conv(substring(md5(cast(doc_id as string)),1,15),16,10) as bigint)"))
      .withColumn("rate", rate)
      .filter(pmod(col("h"), lit(1000)) < col("rate"))
      .select(col("doc_id"), col("lang"), col("source"),
        // exact integer ppm inverse-rate weight (round-8 fixed-point
        // sweep: no float division + engine round on hashed surfaces)
        expr("1000000000 div rate").as("weight_ppm"))
      .orderBy(col("doc_id"))
  }

  // ---- T9: TF-IDF keyword extraction ---------------------------------------

  /** Top-[[TfidfK]] salient terms per document by tf·(N/df) — corpus-level
    * keyword extraction. The idf is the RATIONAL N/df rather than the
    * textbook log(N/df): log is monotonic, so the per-doc ranking is
    * identical, and the score stays a single division of exact integers —
    * engine-portable to the last bit, where `log` (libm, 1-ulp) is not.
    *
    * Scale shape: term counting is an explode + hash agg with map-side
    * combine (shuffle carries (doc, term, count), not the token stream);
    * the document-frequency table is vocabulary-sized — Zipf-bounded and
    * orders of magnitude smaller than the corpus — so it broadcasts back;
    * N arrives via a 1-row broadcast cross join (the watermark-scalar
    * pattern, kept in-plan). The only per-doc work after the join is the
    * top-k window. */
  val TfidfK = 3

  val t9TfidfKeywords: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      // feeds BOTH the df aggregate and the ranking join — left lazy, the
      // token explode + count would execute twice (see distributedCumsum)
      .localCheckpoint()
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_e6").desc, col("term"))
    tf.join(broadcast(dft), "term")
      .crossJoin(broadcast(n))
      // tf·(N/df) in exact 1e-6 fixed point — tf·N·1e6 stays < 2^63 up to
      // ~9e18/tf_max docs; a production corpus would drop the 1e6 scale
      // (the ranking is scale-invariant) long before that bound bites
      .withColumn("score_e6",
        expr("cast(tf as bigint) * n_docs * 1000000 div df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TfidfK)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("score_e6"))
      .orderBy(col("doc_id"), col("rk"))
  }

  // ---- T8: test-set decontamination ----------------------------------------

  /** Contamination n-gram width (GPT-3's filter used 13-grams; 8 suits the
    * fixture docs' lengths). */
  val DecontGram = 8
  /** Stand-in eval-set selector: docs with doc_id ≡ 0 (mod [[DecontMod]])
    * play the held-out benchmark; everything else is the training corpus.
    * 7 puts enough of the fixture's planted near-dups across the
    * train/eval boundary to exercise the filter at every driver scale. */
  val DecontMod = 7

  /** Test-set decontamination: report every (training doc, eval doc) pair
    * sharing at least one [[DecontGram]]-word n-gram, with the count of
    * distinct shared n-grams — the filter run before training to keep
    * benchmark text out of the training mix.
    *
    * Scale shape: the eval side is benchmark-sized (megabytes against a
    * 100 TB corpus), so its n-gram set BROADCASTS; the training side's
    * gram explode (≈8× the text) happens in the same stage as the
    * broadcast hash join, so the multiplied gram stream never crosses a
    * shuffle — only raw document rows cross the pre-explode fan-out
    * repartition, and only matching grams (rare) reach the small
    * (train, eval) count aggregate.
    *
    * Grams travel as multi-arg xxhash64 LONGS (codegen'd, no per-gram
    * string assembly, 8 B against md5-hex's 32) — the same
    * hash-equivalence argument as d2/d4's shingle ids: digests never
    * reach the output (only distinct-match counts do), word boundaries
    * make the 8-tuple ↔ joined-gram map a bijection, and a collision
    * would need ~2⁶⁴ gram pairs to matter, so counting distinct hashes
    * equals the oracle's count of distinct string grams. */
  /** (doc, gram-hash) rows for [[t8Decontaminate]] and the streaming
    * variant: stateless explode + codegen'd multi-arg xxhash64 — works
    * unchanged on a streaming DataFrame. */
  def decontGrams(df: DataFrame, idAs: String): DataFrame = df
    .withColumn("w", split(lower(col("text")), " "))
    .filter(size(col("w")) >= DecontGram)
    .select(col("doc_id").as(idAs), col("w"),
      explode(sequence(lit(0), size(col("w")) - DecontGram)).as("i"))
    .select(col(idAs),
      xxhash64((0 until DecontGram).map(k => col("w")(col("i") + k)): _*).as("g"))

  val t8Decontaminate: Q = (spark, dir) => {
    val docs = fanOut(spark, t(spark, dir, "documents"))
    val ev = decontGrams(docs.filter(pmod(col("doc_id"), lit(DecontMod)) === 0), "eval_id")
    val tr = decontGrams(docs.filter(pmod(col("doc_id"), lit(DecontMod)) =!= 0), "train_id")
    tr.join(broadcast(ev), "g")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(countDistinct(col("g")).as("n_shared"))
      .orderBy(col("train_id"), col("eval_id"))
  }

  /** t8 through REAL Structured Streaming over the sf-scaled corpus
    * ([[graft.streaming.StreamingIngest.decontaminateStream]] — the
    * stream-static shape: eval grams broadcast per micro-batch, the
    * training stream never shuffles for the membership join, streaming
    * dedup state bounded by DISCOVERED contamination). Three
    * micro-batches with batch 2 REDELIVERING the tail of batch 1 — each
    * contaminated pair must emit exactly once — and the pair set must
    * hash-match the one-shot DuckDB join. The 4-doc StreamingIngestSpec
    * pins the mechanism; this pins it against the corpus-scale oracle. */
  val t8sStreamDecont: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val evalDf = docs.filter(pmod(col("doc_id"), lit(DecontMod)) === 0)
    val train = docs.filter(pmod(col("doc_id"), lit(DecontMod)) =!= 0)
    val root = java.nio.file.Files.createTempDirectory("graft-sdecont").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sdecont-ckpt").toString
    val drops = java.nio.file.Files.createTempDirectory("graft-sdecont-drops").toString
    try {
      // three distributed drops; drop 2 REDELIVERS part of drop 1 (the
      // stream's dedup state must swallow the replay)
      streamDrops(spark, docs.schema, drops, Seq(
        train.filter(pmod(col("doc_id"), lit(3)) === 0),
        train.filter(pmod(col("doc_id"), lit(3)) === 1)
          .unionByName(train.filter(
            pmod(col("doc_id"), lit(3)) === 0 && col("doc_id") < 20)),
        train.filter(pmod(col("doc_id"), lit(3)) === 2))) { stream =>
        graft.streaming.StreamingIngest
          .decontaminateStream(stream, evalDf)
          .writeStream.format("parquet")
          .option("path", s"$root/pairs")
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .start()
      }
      spark.read.parquet(s"$root/pairs")
        .localCheckpoint() // materialized before the temp trees are deleted
        .orderBy(col("train_id"), col("eval_id"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(drops))
    }
  }

  /** d2 through REAL Structured Streaming
    * ([[graft.streaming.StreamingIngest.nearDupIngest]] — incremental
    * LSH: per batch, signatures/buckets/shingles merge into snapshot
    * state and candidates join batch-vs-ALL, so a pair is discovered in
    * exactly the first batch completing it). Three micro-batches with a
    * REDELIVERED overlap (the merge-keyed state must make the replay
    * idempotent), and the accumulated pair table must hash-match the
    * exact all-pairs oracle d2 itself is checked against — proving the
    * incremental discovery order-invariant and exactly-once. */
  /** Drive a streaming gate from FILE-SOURCE micro-batches: each slice of
    * the corpus is a distributed parquet write into the watched dir,
    * picked up as the next batch — NO driver-side collect anywhere, so
    * the harness scales with the executor tier instead of the driver
    * heap (the MemoryStream it replaces ate the whole corpus on the
    * driver). `processAllAvailable` between drops pins the batch
    * boundaries the redelivery semantics need. */
  private[queries] def streamDrops(spark: SparkSession,
                          schema: org.apache.spark.sql.types.StructType,
                          watchDir: String, drops: Seq[DataFrame])
      (start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watchDir))
    val q = start(spark.readStream.schema(schema).parquet(watchDir))
    try drops.foreach { d =>
      d.write.mode("append").parquet(watchDir)
      q.processAllAvailable()
    } finally q.stop()
  }

  val d2sStreamNeardup: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-snd").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-snd-ckpt").toString
    val drops = java.nio.file.Files.createTempDirectory("graft-snd-drops").toString
    try {
      // three distributed drops by doc_id stripe; drop 2 REDELIVERS part
      // of drop 1 (the merge-keyed state must swallow the replay)
      streamDrops(spark, docs.schema, drops, Seq(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        docs.filter(pmod(col("doc_id"), lit(3)) === 1)
          .unionByName(docs.filter(
            pmod(col("doc_id"), lit(3)) === 0 && col("doc_id") < 20)),
        docs.filter(pmod(col("doc_id"), lit(3)) === 2))) { stream =>
        graft.streaming.StreamingIngest.nearDupIngest(stream, root, ckpt)
      }
      graft.incremental.SnapshotStore.read(spark, s"$root/nd_pairs").get
        .localCheckpoint() // materialized before the temp trees are deleted
        .orderBy(col("a_id"), col("b_id"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(drops))
    }
  }

  /** k7's Count-Min grid accumulated through REAL Structured Streaming
    * ([[graft.streaming.StreamingIngest.countMinIngest]]): three
    * file-source drops, drop 2 REDELIVERING part of drop 1 — the
    * seen-doc_id state must swallow the replay, because an additive
    * sketch double-counts it otherwise (the one hazard `+`-mergeability
    * doesn't cover). The final streamed grid must hash-match the
    * one-shot grid k7's oracle rebuilds — a streaming sketch graded
    * bit-for-bit, not bounded-error. */
  val k7sStreamSketch: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-scm").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scm-ckpt").toString
    val drops = java.nio.file.Files.createTempDirectory("graft-scm-drops").toString
    try {
      streamDrops(spark, docs.schema, drops, Seq(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        docs.filter(pmod(col("doc_id"), lit(3)) === 1)
          .unionByName(docs.filter(
            pmod(col("doc_id"), lit(3)) === 0 && col("doc_id") < 20)),
        docs.filter(pmod(col("doc_id"), lit(3)) === 2))) { stream =>
        graft.streaming.StreamingIngest.countMinIngest(stream, root, ckpt)
      }
      graft.streaming.StreamingIngest.countMinGrid(spark, root).get
        .localCheckpoint() // materialized before the temp trees are deleted
        .orderBy(col("r"), col("b"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(drops))
    }
  }

  /** k8's HLL grid accumulated through REAL Structured Streaming
    * ([[graft.streaming.StreamingIngest.hllIngest]]): three file-source
    * drops, drop 2 REDELIVERING part of drop 1 — and, in the deliberate
    * contrast with k7s, NO seen-doc state exists to swallow it: the
    * per-bucket MAX merge is idempotent, so the redelivered docs
    * re-apply maxima the grid already holds. The streamed grid must
    * hash-match the one-shot k8 grid the oracle rebuilds. */
  val k8sStreamHll: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-shll").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-shll-ckpt").toString
    val drops = java.nio.file.Files.createTempDirectory("graft-shll-drops").toString
    try {
      streamDrops(spark, docs.schema, drops, Seq(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        docs.filter(pmod(col("doc_id"), lit(3)) === 1)
          .unionByName(docs.filter(
            pmod(col("doc_id"), lit(3)) === 0 && col("doc_id") < 20)),
        docs.filter(pmod(col("doc_id"), lit(3)) === 2))) { stream =>
        graft.streaming.StreamingIngest.hllIngest(stream, root, ckpt)
      }
      graft.incremental.SnapshotStore.read(spark, s"$root/hll_grid").get
        .localCheckpoint() // materialized before the temp trees are deleted
        .orderBy(col("bucket"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(drops))
    }
  }

  /** k9's DDSketch grid accumulated through REAL Structured Streaming
    * ([[graft.streaming.StreamingIngest.ddSketchIngest]]) — the third
    * streaming sketch, closing the family 3-for-3 across both replay
    * classes: the per-(source, bucket) count grid is ADDITIVE (count-SUM
    * merge), k7s's hazard class, so it reuses the per-batch-delta +
    * seen-doc discipline verbatim; the deliberate contrast with k8s,
    * whose MAX-idempotent algebra needs none of it. Three file-source
    * drops, drop 2 REDELIVERING part of drop 1 — the final summed grid
    * must hash-match the one-shot k9 grid the oracle rebuilds
    * (bit-for-bit, not bounded-error). */
  val k9sStreamDdsketch: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft-sdd").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sdd-ckpt").toString
    val drops = java.nio.file.Files.createTempDirectory("graft-sdd-drops").toString
    try {
      streamDrops(spark, docs.schema, drops, Seq(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        docs.filter(pmod(col("doc_id"), lit(3)) === 1)
          .unionByName(docs.filter(
            pmod(col("doc_id"), lit(3)) === 0 && col("doc_id") < 20)),
        docs.filter(pmod(col("doc_id"), lit(3)) === 2))) { stream =>
        graft.streaming.StreamingIngest.ddSketchIngest(stream, root, ckpt)
      }
      graft.streaming.StreamingIngest.ddSketchGrid(spark, root).get
        .localCheckpoint() // materialized before the temp trees are deleted
        .orderBy(col("g"), col("e"), col("key"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(drops))
    }
  }

  /** k10's priority sample accumulated through REAL Structured Streaming
    * ([[graft.streaming.StreamingIngest.prioritySampleIngest]]) — the
    * THIRD streaming replay class beside the additive k7s/k9s and the
    * unbounded-idempotent k8s: BOUNDED-STATE IDEMPOTENT. State is each
    * source's top-(k+1) priority rows (min-k-mergeable), a replay
    * re-derives identical rows, and the (g, rk)-keyed merge upserts
    * them in place — no seen-table, no deltas, (sources × (k+1)) rows
    * of state at any corpus size. Three file-source drops, drop 2
    * REDELIVERING part of drop 1; the served sample (with τ and the
    * DLT estimates derived from the STORED rows alone) must hash-match
    * the one-shot k10. */
  val k10sStreamSample: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft-sk10").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sk10-ckpt").toString
    val drops = java.nio.file.Files.createTempDirectory("graft-sk10-drops").toString
    try {
      streamDrops(spark, docs.schema, drops, Seq(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        docs.filter(pmod(col("doc_id"), lit(3)) === 1)
          .unionByName(docs.filter(
            pmod(col("doc_id"), lit(3)) === 0 && col("doc_id") < 20)),
        docs.filter(pmod(col("doc_id"), lit(3)) === 2))) { stream =>
        graft.streaming.StreamingIngest.prioritySampleIngest(stream, root, ckpt)
      }
      // the serve tail checkpoints off the store before the trees die
      k10Serve(graft.incremental.SnapshotStore.read(spark, s"$root/k10_sample").get)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(drops))
    }
  }

  // ---- K5: curation funnel (per-stage survivor counts, one corpus pass) ----

  /** The observability row every curation RUN dashboards: how many
    * documents survive each gate of the composed pipeline — eval-slice
    * split, near-dup dedup, decontamination, quality, stratified sample,
    * mixture — as prefix-conjunction counts. Reuses each stage's EXACT
    * arithmetic (the d6 cluster election, t8's gram join, t1's integer
    * quality blend, t6's and t12's hash predicates over the survivors'
    * own totals), so the funnel is the pipeline's own bookkeeping, not a
    * parallel estimate.
    *
    * Scale shape: the per-doc gates fold into ONE corpus pass (the gate
    * flags are left-join markers + map-side expressions feeding a single
    * aggregate); the mixture rates need the post-sample totals, which is
    * one |sources|-sized agg broadcast back — the same two-pass shape
    * t12 itself has. */
  val k5CurationFunnel: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents")
    val nonCanonical = d6Labels(spark, dir)
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id"), lit(1L).as("nc"))
    val evalGrams = decontGrams(
      docs.filter(pmod(col("doc_id"), lit(DecontMod)) === 0), "eval_id")
    val contaminated = decontGrams(
      docs.filter(pmod(col("doc_id"), lit(DecontMod)) =!= 0), "train_id")
      .join(broadcast(evalGrams), "g")
      .select(col("train_id").as("doc_id")).distinct()
      .withColumn("ct", lit(1L))
    val rate = SampleRatePermille.foldLeft(lit(SampleRateDefault)) {
      case (e, (l, r)) => when(col("lang") === l, lit(r)).otherwise(e)
    }
    val mixShare = MixSharePermille.foldLeft(lit(MixShareDefault)) {
      case (e, (src, r)) => when(col("source") === src, lit(r)).otherwise(e)
    }
    val flagged = docs
      .join(nonCanonical, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("lw", split(lower(col("text")), " "))
      .withColumn("nt", size(col("lw")).cast(LongType))
      .withColumn("n_stop",
        expr(s"size(filter(lw, x -> x in ${inList(StopEn)}))").cast(LongType))
      .withColumn("f_train", pmod(col("doc_id"), lit(DecontMod)) =!= 0)
      .withColumn("f_dedup", col("f_train") && col("nc").isNull)
      .withColumn("f_decont", col("f_dedup") && col("ct").isNull)
      .withColumn("f_quality", col("f_decont") &&
        expr("(least(100L, nt) * nt + 100L * n_stop) * 5000 div nt") >=
          CorpusPrep.QualityMinPpm)
      .withColumn("f_sample", col("f_quality") &&
        pmod(expr(
          "cast(conv(substring(md5(cast(doc_id as string)),1,15),16,10) as bigint)"),
          lit(1000)) < rate)
      .withColumn("est_tokens", ceil(col("n_chars") / 4.0).cast(LongType))
      .localCheckpoint() // feeds the mix-rate agg AND the funnel agg
    val bySrc = flagged.filter(col("f_sample"))
      .groupBy(col("source")).agg(sum(col("est_tokens")).as("src_tokens"))
      .withColumn("share_pm", mixShare)
    val budget = bySrc.agg(min(expr("src_tokens * 1000 div share_pm")).as("budget"))
    val rates = bySrc.crossJoin(broadcast(budget))
      .withColumn("keep_pm", least(lit(1000L), expr("budget * share_pm div src_tokens")))
      .select(col("source"), col("keep_pm"))
    flagged.join(broadcast(rates), Seq("source"), "left")
      .withColumn("f_mix", col("f_sample") &&
        pmod(expr(
          "cast(conv(substring(md5(concat('mix:', cast(doc_id as string))),1,15),16,10) as bigint)"),
          lit(1000)) < coalesce(col("keep_pm"), lit(0L)))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("f_train"), lit(1))).as("n_train"),
        count(when(col("f_dedup"), lit(1))).as("n_after_dedup"),
        count(when(col("f_decont"), lit(1))).as("n_after_decont"),
        count(when(col("f_quality"), lit(1))).as("n_after_quality"),
        count(when(col("f_sample"), lit(1))).as("n_after_sample"),
        count(when(col("f_mix"), lit(1))).as("n_after_mix"))
  }

  // ---- K6: corpus-overlap audit (MinHash sketch vs exact, per source pair) --

  /** Cross-corpus overlap audit: for every pair of sources, the exact
    * Jaccard of their distinct word-3-gram shingle sets (md5-digest
    * identity) AND a [[OverlapSlots]]-slot MinHash estimate of the same
    * quantity. The sketch is what a 100 TB curation run actually serves —
    * per-corpus signatures are O(K) strings, mergeable across shards (min
    * is associative), and comparing two crawls never re-touches the
    * shingle sets — graded here against the exact join so the estimator's
    * error is a measured, hash-stable column rather than a claim.
    *
    * Scale shape: ONE distinct-shuffle builds the per-source shingle sets
    * (map-side combine on (source, digest)); the signature is a single
    * K-way min aggregate over that set (map-side combined, |sources|·K
    * output cells, broadcast back); the exact intersection is a
    * digest-keyed equi-join — the only term that grows with corpus size,
    * and exactly the term the sketch replaces in production. Every
    * emitted column is an integer (ppm via integer div) — no float ever
    * touches the hashed surface.
    *
    * Slot hashes are k1's affine family over ONE 48-bit parse of the
    * digest (itself an md5): slot_i = (a_i·base + b_i) mod 2³¹−1, each a
    * permutation of Z_p, integer min per slot — cross-engine-exact like
    * the previous md5-per-slot recipe (DuckDB reproduces the sketch
    * bit-for-bit; unlike d2's xxhash signatures, which only Spark can
    * compute and whose oracle therefore grades the exact pairs instead)
    * but K× cheaper: the md5 recipe burned K·|digests| md5 calls (160M
    * at sf1) where the affine family pays pure integer arithmetic. */
  val OverlapSlots = 32
  /** Mersenne prime 2^31−1 — modulus of k6's affine slot-hash family
    * (k1's recipe applied to the overlap signature). */
  val OverlapP = 2147483647L

  val k6CorpusOverlap: Q = (spark, dir) => {
    // per-source DISTINCT shingle sets, digest identity: equality classes
    // equal string-shingle equality (md5 collisions ≪ 1e-20 at any sf)
    val sh = fanOut(spark, t(spark, dir, "documents"))
      .withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= 3)
      .select(col("source"), col("w"),
        explode(sequence(lit(0), size(col("w")) - 3)).as("i"))
      .select(col("source"),
        md5(concat_ws(" ", col("w")(col("i")), col("w")(col("i") + 1),
          col("w")(col("i") + 2))).as("sdig"))
      .distinct()
      .localCheckpoint() // feeds sizes + signature + both join sides (see d2)
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    // K-slot MinHash signature via ONE base value + K affine permutations
    // of Z_p (k1's family — multiplier (i+1)·2654435761 mod p is nonzero,
    // so each map is a permutation). sdig IS an md5 hex string already,
    // so the base is a 48-bit substring parse and the K slots are pure
    // integer arithmetic — the previous md5-per-slot recipe burned
    // K×|digests| md5 calls (160M at sf1) for the same cross-engine
    // exactness the affine family gives for free.
    val withBase = sh.withColumn("ovh",
      expr(s"cast(conv(substring(sdig, 1, 12), 16, 10) as bigint) % ${OverlapP}L"))
    def slotExpr(i: Int): String = {
      val a = ((i + 1).toLong * 2654435761L) % OverlapP
      val b = (i.toLong * 1013904223L + 12345L) % OverlapP
      s"(${a}L * ovh + ${b}L) % ${OverlapP}L"
    }
    val minAggs = (0 until OverlapSlots).map(i =>
      min(expr(slotExpr(i))).as(s"h$i"))
    val sig = withBase.groupBy(col("source")).agg(minAggs.head, minAggs.tail: _*)
      .select(col("source"),
        array((0 until OverlapSlots).map(i => col(s"h$i")): _*).as("sig"))
    val inter = sh.as("x")
      .join(sh.as("y"),
        col("x.sdig") === col("y.sdig") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    // the zero-overlap pairs must still appear: build the full pair frame
    // from the (tiny) per-source size agg and left-join the intersection
    val pairs = sizes.select(col("source").as("src_a"), col("n").as("na"))
      .crossJoin(sizes.select(col("source").as("src_b"), col("n").as("nb")))
      .filter(col("src_a") < col("src_b"))
    val sigA = sig.select(col("source").as("src_a"), col("sig").as("sig_a"))
    val sigB = sig.select(col("source").as("src_b"), col("sig").as("sig_b"))
    pairs
      .join(inter, Seq("src_a", "src_b"), "left")
      .join(broadcast(sigA), Seq("src_a"))
      .join(broadcast(sigB), Seq("src_b"))
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("k_matched",
        expr("cast(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m)) as bigint)"))
      .select(col("src_a"), col("src_b"), col("na"), col("nb"),
        col("inter"), col("uni"),
        expr("inter * 1000000 div uni").as("jaccard_ppm"),
        col("k_matched"),
        expr(s"k_matched * 1000000 div $OverlapSlots").as("est_ppm"))
      .withColumn("err_ppm", abs(col("est_ppm") - col("jaccard_ppm")))
      .orderBy(col("src_a"), col("src_b"))
  }

  // ---- K7: Count-Min heavy hitters — fixed-memory frequency audit ----------

  /** Sketch depth (independent hash rows) / width (counters per row). */
  val CmDepth = 4
  val CmWidth = 128
  /** Heavy hitters reported: top tokens by exact count. */
  val CmTopK = 20

  /** Count-Min heavy-hitter audit (Cormode & Muthukrishnan 2005): token
    * frequencies estimated from a [[CmDepth]]×[[CmWidth]] counter grid —
    * cell(i, h_i(tok)) += 1 per occurrence, estimate = min_i of the
    * token's cells — graded against the exact vocabulary count, k6's
    * discipline: the sketch is what a 100 TB run keeps (D×W integer
    * cells, map-side combined per partition and `+`-mergeable across
    * shards/days/crawls, memory independent of vocabulary size), the
    * exact count is the graded-against term, and the estimator's
    * overcount surfaces as a measured integer column rather than a
    * claim (structurally `cm_est ≥ n` — CM never undercounts — the
    * spec asserts it on every row).
    *
    * Row hashes are md5 over a row-prefixed token (t4/k6's cross-engine
    * recipe), so DuckDB rebuilds the identical grid bit-for-bit and the
    * ESTIMATES sit on the hashed surface, not behind an error-bound
    * boolean (the k1 lesson).
    *
    * Scale shape: the token explode stays in the scan stage; the D-way
    * row fan-out feeds a hash aggregate whose partial side caps each map
    * task's output at D×W cells regardless of input rows, so the sketch
    * shuffle is O(partitions·D·W), not O(tokens); candidate selection is
    * a TakeOrderedAndProject heap over the exact counts; the estimate
    * join probes the broadcast D×W grid with the K·D candidate frame. */
  /** The (row, bucket) probe frame of one token — the query's own hash
    * recipe, exposed so SketchSpec's merge-identity pin can never drift
    * from the gated grid. */
  def cmProbeFrame(tok: Column): Column = {
    def bucket(row: Int): Column =
      pmod(conv(substring(md5(concat(lit(s"$row:"), tok)), 1, 15), 16, 10)
        .cast(LongType), lit(CmWidth.toLong))
    explode(array((0 until CmDepth).map(i =>
      struct(lit(i).as("r"), bucket(i).as("b"))): _*))
  }

  /** Builds the D×W counter grid from a one-column `tok` frame. */
  def cmCells(toks: DataFrame): DataFrame =
    toks.select(cmProbeFrame(col("tok")).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cell"))

  // ---- K8: HyperLogLog distinct count — fixed-memory cardinality audit -----

  /** HLL register count (2^6 buckets; the 60-bit parsed hash leaves a
    * 54-bit rank window, so registers lie in [0, 55]). */
  val HllBuckets = 64
  /** α₆₄·m²·2⁵⁵ precomputed ONCE as a double and embedded as the same
    * exact decimal literal in both engines (the d7/IvfHalfSq identical-
    * literal contract), so the raw-estimate division is the only float
    * op and runs on identical inputs. α_m = 0.7213/(1 + 1.079/m). */
  val HllAConst: String = BigDecimal(
    0.7213 / (1.0 + 1.079 / 64.0) * 64.0 * 64.0 * math.pow(2.0, 55.0))
    .bigDecimal.toPlainString

  /** HyperLogLog cardinality audit (Flajolet et al. 2007) — the distinct-
    * count twin of k7's Count-Min (frequency) and k6's MinHash (overlap),
    * closing the fixed-memory sketch family: each token occurrence hashes
    * to 60 bits (k7's md5-parse recipe, "hll:"-prefixed), the low 6 bits
    * pick a register and the rank of the remaining 54-bit window's
    * leftmost 1-bit (via `length(ltrim(bin(w), '0'))` — identical
    * unpadded-binary semantics in both engines, zero floats) max-folds
    * into it. The m-register grid IS the 100 TB object: map-side-combined
    * max caps each task's shuffle at m rows regardless of input, and
    * per-bucket MAX is the sketch's merge across shards/days/crawls
    * (SketchSpec pins the merge identity, k7's discipline). The raw HLL
    * estimate `⌊α·m²·2⁵⁵ / Σ 2⁵⁵⁻ᴹ⁽ʲ⁾ + ½⌋` is exact-integer except one
    * division of the embedded constant by an exact-long denominator —
    * deterministic, so grid AND estimate sit on the hashed surface; the
    * exact distinct count is the graded-against term and the error is a
    * measured ppm column, not a claim. The standard small-range
    * correction IS included (raw ≤ 2.5m with V > 0 empty registers →
    * linear counting m·ln(m/V), Flajolet §4): V is an exact integer, so
    * ln runs on the identical double in both engines (t15's ln
    * contract) and the branch condition compares deterministic doubles.
    * err_ppm is derived via the all-positive `est·10⁶ div exact − 10⁶`
    * so truncating and floor division agree (the v5 argument —
    * est−exact can be negative).
    *
    * Scale shape: token explode stays in the scan stage; the register
    * agg shuffles O(partitions·m); the grid is 64 rows broadcast back
    * over the dense bucket spine; the exact countDistinct is the one
    * corpus-sized term — the quantity the sketch exists to replace, kept
    * here as the oracle's measuring stick. */
  val k8HllDistinct: Q = (spark, dir) => {
    val toks = fanOut(spark, t(spark, dir, "documents"))
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .localCheckpoint() // feeds the exact count AND the sketch build
    val grid = hllGrid(spark, toks).localCheckpoint() // N agg + output rows
    val m = HllBuckets
    val summary = grid
      .agg(sum(expr("shiftleft(1L, cast(55 - register as int))")).as("nsum"),
        sum(when(col("register") === 0L, 1L).otherwise(0L)).as("v_zero"))
      .crossJoin(toks.agg(countDistinct(col("tok")).as("exact_distinct")))
      .withColumn("raw_d", expr(s"$HllAConst / cast(nsum as double)"))
      .select(
        expr(
          s"""CASE WHEN raw_d <= ${2.5 * m}d AND v_zero > 0
             |THEN cast(floor($m.0d * ln($m.0d / cast(v_zero as double)) + 0.5d) as bigint)
             |ELSE cast(floor(raw_d + 0.5d) as bigint) END""".stripMargin)
          .as("hll_est"),
        col("exact_distinct"))
      .withColumn("err_ppm",
        expr("hll_est * 1000000L div exact_distinct - 1000000L"))
    grid.crossJoin(broadcast(summary))
      .select(col("bucket"), col("register"), col("hll_est"),
        col("exact_distinct"), col("err_ppm"))
      .orderBy(col("bucket"))
  }

  /** The dense m-row HLL register grid of a one-column `tok` frame —
    * exposed (like [[cmCells]]) so SketchSpec's merge-identity pin can
    * never drift from the gated grid. */
  def hllGrid(spark: SparkSession, toks: DataFrame): DataFrame = {
    val regs = toks
      .select(expr(
        "cast(conv(substring(md5(concat('hll:', tok)), 1, 15), 16, 10) as bigint)").as("h"))
      .select(pmod(col("h"), lit(HllBuckets.toLong)).as("bucket"),
        expr(s"h div ${HllBuckets}L").as("w"))
      .select(col("bucket"),
        (lit(55L) - length(ltrim(bin(col("w")), "0")).cast(LongType)).as("r"))
      .groupBy(col("bucket")).agg(max(col("r")).as("register"))
    spark.range(0, HllBuckets.toLong).select(col("id").as("bucket"))
      .join(regs, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("register"), lit(0L)).as("register"))
  }

  // ---- K9: DDSketch-style quantile sketch — fixed-memory percentiles -------

  /** Sub-octave resolution of the [[ddGrid]] buckets: values ≥ 2³ keep
    * their top (DdSubBits + 1) bits, so every octave splits into 2³
    * geometric sub-buckets and the worst-case midpoint-estimate relative
    * error is (2ˢ−1)/(2·2³·2ˢ) < 1/16 = 62 500 ppm; values below 2³ get a
    * bucket each (exact). */
  val DdSubBits = 3

  /** The quantile probes the audit reports, in ppm (p50/p90/p99). */
  val DdQuantilesPpm: Seq[Long] = Seq(500000L, 900000L, 990000L)

  /** The DDSketch-style log-bucketed count grid of a `(g, v)` frame
    * (group column + positive long value) — exposed (like [[hllGrid]] /
    * `cmCells`) so SketchSpec's merge-identity pin can never drift from
    * the gated grid. Bucket key: e = ⌊log₂ v⌋ (via `length(bin(v)) − 1`,
    * the k8 unpadded-binary contract — identical in both engines),
    * shift = max(e − [[DdSubBits]], 0), key = v >> shift. (e, key) is
    * monotone in the value range [key·2ˢ, (key+1)·2ˢ − 1], so rank walks
    * are order-by-(e, key) cumulative sums and the midpoint `rep` is the
    * bucket's estimate. All integer — the sketch has NO float anywhere
    * (one better than k8's single division). Merging shards/days/crawls
    * is per-bucket COUNT SUM (a plain agg — pinned in SketchSpec). */
  def ddGrid(spark: SparkSession, vals: DataFrame): DataFrame =
    vals
      .withColumn("e", (length(bin(col("v"))) - 1).cast(LongType))
      .withColumn("shift", greatest(col("e") - DdSubBits, lit(0L)))
      .withColumn("key", expr("v div shiftleft(1L, cast(shift as int))"))
      .groupBy(col("g"), col("e"), col("shift"), col("key"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("lo", expr("shiftleft(key, cast(shift as int))"))
      .withColumn("rep", expr(
        "(shiftleft(key, cast(shift as int)) + " +
          "shiftleft(key + 1, cast(shift as int)) - 1) div 2"))

  /** Quantile audit per corpus source (DDSketch, Masson et al. 2019) —
    * the rank twin of k6 (overlap), k7 (frequency) and k8 (distinct),
    * closing the sketch family on the fourth axis a corpus monitor
    * needs: p50/p90/p99 document length per source, from a fixed-memory
    * mergeable grid. The target rank is ⌈q·n⌉ (exact integers); the
    * estimate is the midpoint of the first bucket whose cumulative count
    * reaches it — and that bucket CONTAINS the exact q-th value, so the
    * measured `err_ppm` is structurally bounded by ±62 500 (exact below
    * 2⁴) — pinned in SketchSpec, graded per row here against the exact
    * rank-walk the sketch exists to replace.
    *
    * Scale shape: the corpus-sized pass is one map-side-combined groupBy
    * onto ≤ groups × (8·octaves) buckets — each task's shuffle is
    * grid-sized regardless of input rows, and per-bucket SUM is the
    * merge across shards (SketchSpec pins the identity). The quantile
    * walk runs on the tiny grid (window over ~500 rows/group). The exact
    * per-value cumsum is the graded-against term only. */
  /** The sketch's rank walk, shared by k9 (the graded audit) and t29
    * (the operational trim) — one estimator, no drift: target rank
    * ⌈q·n⌉ per group, estimate = midpoint of the first grid bucket whose
    * cumulative count reaches it. Returns (g, q_ppm, dd_est). */
  /** The ONE definition of the target rank ⌈q·n⌉ per (group, probe) —
    * shared by the sketch walk ([[ddQuantileEst]]) and k9's graded exact
    * walk, so the two sides can never silently diverge on rounding. */
  private def ddTargets(spark: SparkSession, vals: DataFrame,
                        qs: Seq[Long]): DataFrame = {
    import spark.implicits._
    vals.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(qs.toDF("q_ppm")))
      .withColumn("target", expr("(q_ppm * n + 999999L) div 1000000L"))
      .select(col("g"), col("q_ppm"), col("target"))
  }

  private def ddQuantileEst(spark: SparkSession, vals: DataFrame,
                            qs: Seq[Long]): DataFrame = {
    val targets = ddTargets(spark, vals, qs)
    val cum = ddGrid(spark, vals)
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("g")).orderBy(col("e"), col("key"))))
    cum.join(targets, "g")
      .filter(col("cum") >= col("target"))
      .groupBy(col("g"), col("q_ppm"))
      .agg(min(col("rep")).as("dd_est")) // rep is monotone in (e, key)
  }

  val k9DdQuantiles: Q = (spark, dir) => {
    val vals = fanOut(spark, t(spark, dir, "documents"))
      .filter(col("n_chars") >= 1)
      .select(col("source").as("g"), col("n_chars").as("v"))
      .localCheckpoint() // feeds the grid, the counts AND the exact walk
    // the exact walk reuses [[ddTargets]] — the sketch estimate and the
    // graded truth share ONE rank definition by construction
    val targets = ddTargets(spark, vals, DdQuantilesPpm)
    val est = ddQuantileEst(spark, vals, DdQuantilesPpm)
    val exact = vals.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("g")).orderBy(col("v"))))
      .join(targets, "g")
      .filter(col("cum") >= col("target"))
      .groupBy(col("g"), col("q_ppm"))
      .agg(min(col("v")).as("exact_v"))
    est.join(exact, Seq("g", "q_ppm"))
      // all-positive numerator so truncation and floor division agree
      // (the k8/v5 argument — dd_est − exact_v can be negative)
      .withColumn("err_ppm",
        expr("dd_est * 1000000L div exact_v - 1000000L"))
      .select(col("g").as("source"), col("q_ppm"), col("dd_est"),
        col("exact_v"), col("err_ppm"))
      .orderBy(col("source"), col("q_ppm"))
  }

  /** t29's trim band in ppm: keep each source's middle 80% by length. */
  val T29TrimPpm: Seq[Long] = Seq(100000L, 900000L)

  /** Corpus-RELATIVE length trim — the k9 sketch used operationally:
    * a doc survives iff its length lies within its OWN source's
    * [p10, p90] band, bounds read from the DDSketch estimate (shared
    * [[ddQuantileEst]] walk — one estimator, no drift). This is the
    * curation cut absolute thresholds (t20's Gopher rules) cannot
    * express: "too short/long" is distribution-relative — a p10 cut on
    * a code source and a prose source lands at different lengths, with
    * no per-source constants to maintain. At 100 TB the bounds come
    * from the grid (one map-side-combined pass, grid-sized shuffle) —
    * the exact rank walk the sketch replaces would need a per-source
    * sort. The sketch is bit-identical in both engines, so the bounds —
    * and therefore every verdict — sit on the hashed surface. */
  val t29QuantileTrim: Q = (spark, dir) => {
    val docs = fanOut(spark, t(spark, dir, "documents"))
      .filter(col("n_chars") >= 1)
      .select(col("doc_id"), col("source").as("g"), col("n_chars"))
      .localCheckpoint() // feeds the sketch build AND the verdict join
    val est = ddQuantileEst(spark, docs.select(col("g"), col("n_chars").as("v")),
      T29TrimPpm)
    val bounds = est.groupBy(col("g")).agg(
      min(when(col("q_ppm") === T29TrimPpm.head, col("dd_est"))).as("lo_bound"),
      min(when(col("q_ppm") === T29TrimPpm(1), col("dd_est"))).as("hi_bound"))
    docs.join(broadcast(bounds), "g")
      .select(col("doc_id"), col("g").as("source"), col("n_chars"),
        col("lo_bound"), col("hi_bound"),
        (col("n_chars") >= col("lo_bound") &&
          col("n_chars") <= col("hi_bound")).as("kept"))
      .orderBy(col("doc_id"))
  }

  // ---- K10: priority sampling — the sketch family's SAMPLE axis ------------

  /** Sample size per source for [[k10PrioritySample]]. */
  val K10k = 16

  /** Per-source fixed-size WEIGHTED sample by priority sampling
    * (Duffield, Lund & Thorup 2007, "Priority sampling for estimation of
    * arbitrary subset sums" — the estimator a corpus monitor uses to
    * answer "how many chars does source X hold?" from k rows instead of
    * a scan): each doc draws u = (h+1)/2⁶⁰ from its own 60-bit md5 hash,
    * gets priority p = w/u (w = n_chars), and the source keeps its
    * [[K10k]] LARGEST priorities. τ = the (k+1)-th largest priority;
    * ŵᵢ = max(wᵢ, τ) is the unbiased per-item weight estimate — a
    * source with ≤ k docs has τ = 0 and the estimate EXACT by
    * construction. Closes the sketch family's fifth axis: k6 overlap,
    * k7 frequency, k8 distinct, k9 rank, k10 SAMPLE.
    *
    * Determinism across engines: h is the same md5-derived 60-bit
    * integer both engines compute (t6's idiom, 'k10:'-salted); the
    * priority is ONE identically-written formula — (w · 2⁶⁰) / (h+1) in
    * doubles, multiply then divide, IEEE-identical in both — used for
    * ORDERING only (ties → doc_id); no float reaches the hashed surface
    * raw: ŵ is per-row floor(max(w, τ)·1e6 + 0.5) into exact 1e-6-unit
    * bigints (the t15 discipline — float→int per element, never an
    * order-dependent float sum).
    *
    * Scale shape: one map-side pass computes (h, p); the per-source
    * top-(k+1) runs as a rank window over ≤ sources × corpus rows with
    * partial aggregation... at 100 TB the window's sort is the cost —
    * the two-phase alternative (per-partition top-(k+1) heaps, then a
    * (sources × (k+1))-sized re-rank — the [[graft.functions.TopKAggregator]]
    * shape) keeps every task's state k-bounded; τ and the estimate then
    * live on a sources-sized frame. The sample is MERGEABLE (min-k
    * union), which is what k10s exploits through the store. */
  /** The 'k10:'-salted 60-bit hash draw (t6's md5 idiom). */
  private[graft] def k10Hash: Column = expr(
    "cast(conv(substring(md5(concat('k10:', cast(doc_id as string))),1,15),16,10) as bigint)")

  /** The priority — ONE identically-written double formula in both
    * engines (multiply then divide). */
  private[graft] def k10Priority: Column = expr(
    "cast(wt as double) * cast(1152921504606846976 as double) / cast(h + 1 as double)")

  /** Per-source top-(k+1) by priority over a (g, doc_id, wt, h) frame —
    * k+1 because τ IS the (k+1)-th row; top-(k+1) is min-k-mergeable,
    * which is what k10s's bounded store state exploits. */
  private[graft] def k10Ranked(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("p").desc, col("doc_id"))
    rows.withColumn("p", k10Priority)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K10k + 1)
  }

  /** The serve tail shared by k10 and k10s (one estimator, no drift):
    * from a ranked (g, doc_id, wt, h, rk) frame, derive τ from the
    * rk = k+1 row and emit the k sample rows with the DLT estimate. */
  private[graft] def k10Serve(ranked0: DataFrame): DataFrame = {
    val ranked = ranked0.withColumn("p", k10Priority)
      .localCheckpoint() // feeds the tau frame AND the sample projection
    val tau = ranked.filter(col("rk") === K10k + 1)
      .select(col("g"), col("p").as("tau"))
    ranked.filter(col("rk") <= K10k)
      .join(broadcast(tau), Seq("g"), "left")
      // per-row float→int floor BEFORE any aggregation a consumer might
      // run (order-free exactness); max(w, τ) is the DLT unbiased
      // estimate, τ = 0 for a source with ≤ k docs (estimate EXACT)
      .withColumn("est_w_e6",
        e6(greatest(col("wt").cast(DoubleType), coalesce(col("tau"), lit(0.0d)))))
      .select(col("g").as("source"), col("rk").cast(LongType).as("rk"),
        col("doc_id"), col("wt").as("n_chars"), col("h"), col("est_w_e6"))
      .orderBy(col("source"), col("rk"))
  }

  val k10PrioritySample: Q = (spark, dir) => {
    val rows = fanOut(spark, t(spark, dir, "documents"))
      .filter(col("n_chars") >= 1)
      .select(col("source").as("g"), col("doc_id"), col("n_chars").as("wt"))
      .withColumn("h", k10Hash)
    k10Serve(k10Ranked(rows).select(col("g"), col("doc_id"), col("wt"),
      col("h"), col("rk")))
  }

  // ---- K10B: the subset-sum estimate SERVED from the stored sample --------

  /** The planted ≤-[[K10k]]-doc source for [[k10bSubsetSum]]'s exactness
    * case: 3 docs ⇒ τ = 0 ⇒ the DLT estimate is EXACT by construction,
    * graded on the hashed surface as `est_total_e6 = exact_total_e6` on
    * its row. Negative ids keep it disjoint from every tier's corpus. */
  val K10bSeed: Seq[(Long, String, Long)] =
    Seq((-1L, "seed_small", 10L), (-2L, "seed_small", 20L), (-3L, "seed_small", 30L))

  /** K10B: the Duffield-Lund-Thorup estimator actually USED — "how many
    * chars does source X hold?" answered from the k stored rows ALONE
    * (the DLT paper's subset-sum query; k10 builds the sample, this gate
    * puts its PURPOSE on the hashed surface): the per-source top-(k+1)
    * rows persist through the snapshot store keyed (g, rk), a
    * redelivered head slice proves the keyed merge swallows at-least-once
    * replay, and the estimate Σᵢ max(wᵢ, τ) is ONE |sample|-sized
    * aggregate over the table read BACK from the store — the corpus is
    * never rescanned for the estimate. The exact per-source totals (the
    * error column) come from one map-side-combined corpus pass the
    * oracle mirrors. [[K10bSeed]] plants a 3-doc source to pin the
    * exactness property (≤ k docs ⇒ τ = 0 ⇒ estimate exact).
    *
    * Scale shape: the stored sample is (sources × (k+1)) rows — metadata
    * — so the serve aggregate reads k-bounded state; the one corpus-sized
    * pass (ranking) is k10's own cost, shared here; error columns are
    * integer-only (ratio in per-mille by bigint division — positive
    * operands, so Spark's truncating `div` and DuckDB's flooring `//`
    * agree; the t15/k9 engine-portability discipline). */
  val k10bSubsetSum: Q = (spark, dir) => {
    import graft.incremental.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("graft-k10b").toString
    try {
      val seed = spark.createDataFrame(K10bSeed).toDF("doc_id", "g", "wt")
        .select(col("g"), col("doc_id"), col("wt"))
      val rows = fanOut(spark, t(spark, dir, "documents"))
        .filter(col("n_chars") >= 1)
        .select(col("source").as("g"), col("doc_id"), col("n_chars").as("wt"))
        .unionByName(seed)
        .localCheckpoint() // feeds the ranked sample AND the exact totals
      val ranked = k10Ranked(rows.withColumn("h", k10Hash))
        .select(col("g"), col("doc_id"), col("wt"), col("h"), col("rk"))
        .localCheckpoint() // feeds the bootstrap merge AND the replay slice
      SnapshotStore.merge(spark, s"$root/sample", ranked, Seq("g", "rk"))
      SnapshotStore.merge(spark, s"$root/sample",
        ranked.filter(col("rk") <= 3), Seq("g", "rk")) // redelivered head
      val stored = SnapshotStore.read(spark, s"$root/sample").get
        .localCheckpoint() // feeds the serve tail AND the τ-presence agg
      val est = k10Serve(stored.select(col("g"), col("doc_id"), col("wt"),
          col("h"), col("rk")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sample"), sum(col("est_w_e6")).as("est_total_e6"))
      // a source with no stored rk = k+1 row has τ = 0 by construction
      val tz = stored.groupBy(col("g").as("source"))
        .agg((count(lit(1)) <= K10k).as("tau_zero"))
      val exact = rows.groupBy(col("g").as("source"))
        .agg((sum(col("wt")) * lit(1000000L)).as("exact_total_e6"))
      est.join(tz, "source").join(exact, "source")
        .select(col("source"), col("n_sample"), col("tau_zero"),
          col("est_total_e6"), col("exact_total_e6"),
          expr("est_total_e6 * 1000 div exact_total_e6").as("ratio_pm"))
        .localCheckpoint() // materialized before the temp store dies
        .orderBy(col("source"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- K11: KMV/theta sketch — distinct-count SET ALGEBRA from sketches ----

  /** Sketch size (minimum hash values kept per source). */
  val K11k = 64
  /** The 48-bit hash domain of k6's md5 parse (2⁴⁸). */
  val K11M = 281474976710656L

  /** The planted ≤-[[K11k]]-value source pinning the sketch's EXACT mode
    * on the hashed surface: a sketch that never fills IS its value set,
    * so every estimate it serves is exact by construction. Values sit in
    * the 48-bit domain; the source name is disjoint from every tier. */
  val K11Seed: Seq[(String, Long)] = Seq(
    ("seed_tiny", 11111111111L), ("seed_tiny", 22222222222L),
    ("seed_tiny", 33333333333L))

  /** A batch's distinct (source, 48-bit shingle hash) values — k6's
    * word-3-gram md5 identity parsed straight to the integer domain.
    * Shared by [[k11ThetaSketch]] and the streamed build's per-batch
    * candidates (one hasher, no drift). */
  private[graft] def k11BatchValues(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= 3)
      .select(col("source").as("g"), col("w"),
        explode(sequence(lit(0), size(col("w")) - 3)).as("i"))
      .select(col("g"), expr(
        "cast(conv(substring(md5(concat_ws(' ', w[i], w[i+1], w[i+2])),1,12),16,10) as bigint)")
        .as("h"))
      .distinct()

  /** The corpus value sets + the planted seed source. */
  private[graft] def k11Values(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val seed = spark.createDataFrame(K11Seed).toDF("g", "h")
    // r15 opt (guide §2.4 "a distinct on data that is already unique"):
    // k11BatchValues is already distinct, the 3-row seed is distinct, and
    // the seed source name is disjoint from every tier — so the union IS
    // distinct, and the outer .distinct() here was a full extra
    // shuffle+hash-agg of the corpus value set per run. The disjointness
    // is asserted, not assumed: one filtered source scan, ≤ 1 row back.
    val clash = docs.select(col("source"))
      .filter(col("source").isin(K11Seed.map(_._1).distinct: _*)).limit(1).collect()
    require(clash.isEmpty,
      s"k11: documents.source '${clash.head.getString(0)}' is a planted K11Seed " +
        "source name — the corpus ∪ seed value set would no longer be distinct")
    k11BatchValues(fanOut(spark, docs)).unionByName(seed)
  }

  /** The KMV sketch: each source's [[K11k]] SMALLEST distinct hashes.
    * The rank window plans as the two-phase WindowGroupLimit
    * per-partition heap (k10's pinned shape), so every task's state is
    * k-bounded. MERGEABLE: the min-k of a union is the min-k of the
    * per-part min-k's — what k11s's bounded store state exploits. */
  private[graft] def k11Sketch(values: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("h"))
    values.withColumn("rk", row_number().over(w)).filter(col("rk") <= K11k)
  }

  /** The KMV serving rule as one SQL expression over (n, θ): an unfilled
    * sketch answers exactly; a full one estimates (k−1)·2⁴⁸/θ
    * (Bar-Yossef et al. 2002, the Theta-sketch rule). Positive-operand
    * integer div, so Spark `div` ≡ DuckDB `//`. */
  private def k11Est(n: String, theta: String): String =
    s"case when $n < $K11k then $n else (${K11k - 1}L * ${K11M}L) div greatest($theta, 1L) end"

  /** K11: the KMV (k-minimum-values / Theta) sketch — the sketch
    * family's SET-ALGEBRA axis. k8's HLL answers "how many distinct"
    * for ONE set and unions losslessly, but cannot intersect; the Theta
    * family (Dasgupta et al. 2016, the DataSketches production design)
    * keeps the k smallest hash VALUES, so two sketches compose:
    * the k smallest of a merged pair IS the union sketch, and counting
    * which of those survive in both inputs estimates the intersection —
    * cardinality set algebra ("how many distinct shingles do crawls A
    * and B share?") from two O(k) states, never re-touching either
    * corpus. Emitted per source pair: both KMV cardinality estimates,
    * the union/intersection estimates and Jaccard from the SKETCHES
    * alone, next to the exact union/intersection (the eval half, k6's
    * audited-error discipline) — the estimator's error is a measured
    * hash-stable column, not a claim. [[K11Seed]] plants a 3-value
    * source whose sketch never fills, pinning the exact mode.
    *
    * Determinism across engines: the value hash is k6's 48-bit md5
    * parse; everything after is rank windows and positive-operand
    * integer arithmetic — no float anywhere, both engines bit-equal.
    *
    * Scale shape: ONE distinct-shuffle builds the value sets (map-side
    * combined); the sketch is a k-bounded WindowGroupLimit over it; ALL
    * pair algebra runs on the (|sources|·k)-row sketch frame — metadata
    * — so union/intersection estimates cost O(|sources|²·k) regardless
    * of corpus size. The exact columns are the one corpus-sized join —
    * exactly the term the sketch replaces in production (k6's trade). */
  val k11ThetaSketch: Q = (spark, dir) => {
    val values = k11Values(spark, dir)
      .localCheckpoint() // feeds the sketch AND the exact eval half
    val kept = k11Sketch(values)
      .localCheckpoint() // feeds per-source ests AND the pair algebra
    val perSrc = kept.groupBy(col("g"))
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("theta"))
      .withColumn("est", expr(k11Est("n_kept", "theta")))
    // every unordered pair — zero-overlap pairs included — off the
    // metadata-sized per-source frame (k6's convention)
    val pl = perSrc.select(col("g").as("a"), col("est").as("est_a"))
      .crossJoin(perSrc.select(col("g").as("b"), col("est").as("est_b")))
      .filter(col("a") < col("b"))
    // the union sketch per pair: k smallest of the merged value sets,
    // with per-value membership flags for the intersection count
    val uni = pl.select(col("a"), col("b"))
      .join(broadcast(kept.select(col("g"), col("h"))),
        col("g") === col("a") || col("g") === col("b"))
      .groupBy(col("a"), col("b"), col("h"))
      .agg(max(when(col("g") === col("a"), 1).otherwise(0)).as("in_a"),
        max(when(col("g") === col("b"), 1).otherwise(0)).as("in_b"))
    val wr = Window.partitionBy(col("a"), col("b")).orderBy(col("h"))
    val wc = Window.partitionBy(col("a"), col("b"))
    val pairAlg = uni
      .withColumn("rk", row_number().over(wr))
      .withColumn("nm", count(lit(1)).over(wc))
      .filter(col("rk") <= K11k)
      .groupBy(col("a"), col("b"), col("nm"))
      .agg(count(lit(1)).as("m"), max(col("h")).as("theta_u"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L)).as("rho"))
      .withColumn("est_union", expr(k11Est("nm", "theta_u")))
      .withColumn("est_inter", expr("(rho * est_union) div m"))
      .withColumn("jacc_est_ppm", expr("rho * 1000000L div m"))
    // the exact eval half: per-source sizes + the value-keyed equi-join
    val sizes = values.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val ix = values.as("x")
      .join(values.as("y"), col("x.h") === col("y.h") && col("x.g") < col("y.g"))
      .groupBy(col("x.g").as("a"), col("y.g").as("b"))
      .agg(count(lit(1)).as("exact_inter"))
    pl.join(pairAlg, Seq("a", "b"))
      .join(ix, Seq("a", "b"), "left")
      .join(broadcast(sizes.select(col("g").as("a"), col("n").as("na"))), Seq("a"))
      .join(broadcast(sizes.select(col("g").as("b"), col("n").as("nb"))), Seq("b"))
      .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
      .withColumn("exact_union", expr("na + nb - exact_inter"))
      .select(col("a").as("src_a"), col("b").as("src_b"), col("rho"),
        col("est_a"), col("est_b"), col("est_union"), col("est_inter"),
        col("jacc_est_ppm"), col("exact_union"), col("exact_inter"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** K11S: the KMV sketch built through the STORE from arrival batches —
    * the bounded-state idempotent replay class (k10s's): per batch,
    * stored min-k rows ∪ the batch's distinct hashes, set-deduped (a
    * redelivered doc re-derives identical hashes), re-ranked, merged
    * keyed (g, rk). Per-source state never exceeds [[K11k]] rows and the
    * min-k merge can never lose a value that belongs in the sketch, so
    * the final state must BIT-EQUAL the one-shot sketch of the streamed
    * corpus — which is exactly what the oracle recomputes. */
  val k11sStreamTheta: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val root = java.nio.file.Files.createTempDirectory("graft-sk11").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sk11-ckpt").toString
    val drops = java.nio.file.Files.createTempDirectory("graft-sk11-drops").toString
    try {
      streamDrops(spark, docs.schema, drops, Seq(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        docs.filter(pmod(col("doc_id"), lit(3)) === 1)
          .unionByName(docs.filter(
            pmod(col("doc_id"), lit(3)) === 0 && col("doc_id") < 20)),
        docs.filter(pmod(col("doc_id"), lit(3)) === 2))) { stream =>
        graft.streaming.StreamingIngest.thetaSketchIngest(stream, root, ckpt)
      }
      graft.incremental.SnapshotStore.read(spark, s"$root/k11_sketch").get
        .select(col("g").as("source"), col("rk").cast(LongType).as("rk"), col("h"))
        .localCheckpoint() // materialized before the temp store dies
        .orderBy(col("source"), col("rk"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(drops))
    }
  }

  val k7CountMin: Q = (spark, dir) => {
    val toks = fanOut(spark, t(spark, dir, "documents"))
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .localCheckpoint() // feeds the exact count AND the sketch build
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val cells = cmCells(toks)
    val top = counts.orderBy(col("n").desc, col("tok")).limit(CmTopK)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("n").desc, col("tok"))))
    top
      .select(col("tok"), col("n"), col("rk"), cmProbeFrame(col("tok")).as("rb"))
      .select(col("tok"), col("n"), col("rk"),
        col("rb.r").as("r"), col("rb.b").as("b"))
      .join(broadcast(cells), Seq("r", "b"))
      .groupBy(col("rk"), col("tok"), col("n"))
      .agg(min(col("cell")).as("cm_est"))
      .withColumn("overcount", col("cm_est") - col("n"))
      .select(col("rk"), col("tok"), col("n"), col("cm_est"), col("overcount"))
      .orderBy(col("rk"))
  }

  // ---- K12: time-rollup distinct — daily KMV partials merged upward --------

  /** k12 sketch size. Small enough that the busiest (type, day) cell
    * FILLS at sf0.001 (estimate mode) while most day cells stay unfilled
    * (exact mode) — both serving branches live at every tier. */
  val K12k = 8

  /** A corpus's distinct (event_type, day, 48-bit user hash) triples —
    * k11's md5 parse on the user id, the day from the UTC event date. */
  private[graft] def k12DailyValues(events: DataFrame): DataFrame =
    events.select(col("event_type").as("g"),
        to_date(col("ts")).cast("string").as("day"),
        expr("cast(conv(substring(md5(concat('k12:', " +
          "cast(user_id as string))),1,12),16,10) as bigint)").as("h"))
      .distinct()

  /** k12's serving rule — k11's (n, θ) law at [[K12k]]. */
  private def k12Est(n: String, theta: String): String =
    s"case when $n < $K12k then $n else (${K12k - 1}L * ${K11M}L) div greatest($theta, 1L) end"

  /** The per-(type, day) partial: each cell's [[K12k]] smallest hashes.
    * Plans as two-phase WindowGroupLimit (k10's pinned shape). */
  private[graft] def k12DaySketch(vals: DataFrame): DataFrame = {
    val wd = Window.partitionBy(col("g"), col("day")).orderBy(col("h"))
    vals.withColumn("rk", row_number().over(wd)).filter(col("rk") <= K12k)
  }

  /** The rollup sketch: min-k of the union of the day partials — KMV's
    * merge law, computed on the metadata-sized partial frame only. */
  private[graft] def k12TotalSketch(daily: DataFrame): DataFrame = {
    val wt = Window.partitionBy(col("g")).orderBy(col("h"))
    daily.select(col("g"), col("h")).distinct()
      .withColumn("rk", row_number().over(wt)).filter(col("rk") <= K12k)
  }

  /** K12: the sketch family's TIME axis — daily-active-users per event
    * type as KMV partials, ROLLED UP from the partials alone. The OLAP
    * production shape: the per-(type, day) sketch row is what a daily
    * job materializes; month/lifetime answers then come from MERGING the
    * stored day rows — KMV's law (the k smallest of a union are each
    * among their part's k smallest, so min-k of the day partials IS the
    * min-k of the raw union, exactly) — and the raw event log is never
    * rescanned at serve time. Emits one row per (type, day) cell plus a
    * `day='ALL'` rollup row per type: sketch occupancy n, θ, the
    * estimate, the exact distinct and the measured error ppm (k6/k11's
    * audited-error discipline — error is a hash-stable column, not a
    * claim). A day cell under [[K12k]] users answers exactly; the
    * rollup row estimates — both branches pinned at every tier.
    *
    * Determinism: k11's 48-bit md5 parse on user_id, rank windows
    * (two-phase WindowGroupLimit, k-bounded tasks) and positive-operand
    * integer div — no float, both engines bit-equal.
    *
    * Scale shape: ONE distinct-shuffle over (type, day, hash) builds the
    * day values (map-side combined); the day sketch is a k-bounded
    * window over it; the rollup runs on the (types·days·k)-row partial
    * frame — metadata-sized, the corpus is not touched. The exact
    * columns are the one corpus-sized aggregate — the term the sketch
    * replaces in production. */
  val k12RollupDistinct: Q = (spark, dir) => {
    val vals = k12DailyValues(t(spark, dir, "events"))
      .localCheckpoint() // feeds the day sketch AND both exact columns
    val daily = k12DaySketch(vals).select(col("g"), col("day"), col("h"))
      .localCheckpoint() // feeds the day serve AND the rollup merge
    k12Serve(vals, daily)
  }

  /** k12's serving tail over a partial frame — shared by k12 (one-pass
    * build) and k12s (partials read back from the streamed store): the
    * sketch path runs on `daily` ALONE; `vals` feeds only the exact
    * eval columns (the audited-error half, k6/k11's convention). */
  private[graft] def k12Serve(vals: DataFrame, daily: DataFrame): DataFrame = {
    val dayExact = vals.groupBy(col("g"), col("day"))
      .agg(count(lit(1)).as("exact_distinct"))
    val dayRows = daily.groupBy(col("g"), col("day"))
      .agg(count(lit(1)).as("n"), max(col("h")).as("theta"))
      .withColumn("est_distinct", expr(k12Est("n", "theta")))
      .join(dayExact, Seq("g", "day"))
    // the rollup: min-k of the UNION OF THE DAY PARTIALS — the raw
    // value set is deliberately absent from this lineage
    val totSketch = k12TotalSketch(daily)
    val totExact = vals.select(col("g"), col("h")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("exact_distinct"))
    val totRows = totSketch.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), max(col("h")).as("theta"))
      .withColumn("est_distinct", expr(k12Est("n", "theta")))
      .join(totExact, "g")
      .withColumn("day", lit("ALL"))
    dayRows.unionByName(totRows.select(dayRows.columns.map(col): _*))
      .withColumn("err_ppm", expr(
        "abs(est_distinct - exact_distinct) * 1000000L div greatest(exact_distinct, 1L)"))
      .select(col("g").as("event_type"), col("day"), col("n"), col("theta"),
        col("est_distinct"), col("exact_distinct"), col("err_ppm"))
      .orderBy(col("event_type"), col("day"))
  }

  /** K12S: the daily sketch job AS A STREAM — k12's partial table built
    * through the store from event micro-batches ([[graft.streaming
    * .StreamingIngest.dailyRollupBatch]]: k11s's bounded-state
    * idempotent replay class with the day in the cell key; a
    * redelivered event re-derives its identical (type, day, hash)
    * triple and the per-cell min-k merge swallows it). The serve reads
    * the partial table back and runs k12's tail on it — day estimates
    * AND the rollup come from the streamed state alone; the raw log is
    * touched only for the exact eval columns. Final output must
    * hash-match one-shot k12 (the shared oracle): arrival order,
    * micro-batch boundaries and the replay are invisible. */
  val k12sStreamRollup: Q = (spark, dir) => {
    val events = t(spark, dir, "events")
    val root = java.nio.file.Files.createTempDirectory("graft-sk12").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sk12-ckpt").toString
    val drops = java.nio.file.Files.createTempDirectory("graft-sk12-drops").toString
    try {
      streamDrops(spark, events.schema, drops, Seq(
        events.filter(pmod(col("event_id"), lit(3)) === 0),
        events.filter(pmod(col("event_id"), lit(3)) === 1)
          .unionByName(events.filter( // redelivered overlap slice
            pmod(col("event_id"), lit(3)) === 0 && col("event_id") < 100)),
        events.filter(pmod(col("event_id"), lit(3)) === 2))) { stream =>
        graft.streaming.StreamingIngest.dailyRollupIngest(stream, root, ckpt)
      }
      val daily = graft.incremental.SnapshotStore
        .read(spark, s"$root/k12_partials").get
        .select(col("g"), col("day"), col("h"))
      k12Serve(k12DailyValues(events).localCheckpoint(), daily)
        .localCheckpoint() // materialized before the temp store dies
        .orderBy(col("event_type"), col("day"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(drops))
    }
  }

  // ---- DAG: bucketed store layout — the recurring join with NO shuffle -----

  /** The bucketed-table serving join: both sides of the corpus's most
    * recurring big-big join — the per-doc digest frame and the per-digest
    * canonical-cluster frame (d1's dedup annotation, re-joined by every
    * incremental batch) — persist through the snapshot store with a
    * DECLARED bucket layout (`bucketBy` on the bootstrap merge: 8 buckets
    * on `digest`, manifest-carried thereafter). On read the manifest's
    * BucketSpec makes each scan report `HashPartitioning(digest, 8)`, so
    * the join plans with ZERO `Exchange hashpartitioning` — at 100 TB the
    * difference between re-shuffling both tables per run and reading
    * co-located bucket files (the layout g1/t22/k6's scale notes assume;
    * this gate is that claim, plan-pinned through the store). Broadcast is
    * disabled during planning because at scale NEITHER side fits — the
    * in-gate require fails if any hash exchange re-appears. Oracle = the
    * same join computed declaratively, unbucketed: layout changes cost,
    * never results. */
  val dagBucketedJoin: Q = (spark, dir) => {
    import graft.incremental.{Manifest, SnapshotStore}
    val root = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val docs = t(spark, dir, "documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("digest"), col("source"))
      val bk = Some(Manifest.Buckets(8, Seq("digest"), Seq("digest")))
      SnapshotStore.merge(spark, s"$root/docs", docs, Seq("doc_id"), bucketBy = bk)
      val canon = docs.groupBy(col("digest"))
        .agg(min(col("doc_id")).as("canonical_doc"), count(lit(1)).as("dup_count"))
      SnapshotStore.merge(spark, s"$root/canon", canon, Seq("digest"), bucketBy = bk)
      val a = SnapshotStore.read(spark, s"$root/docs").get
      val b = SnapshotStore.read(spark, s"$root/canon").get
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val served = a.join(b, Seq("digest"))
        .select(col("doc_id"), col("digest"), col("source"),
          col("canonical_doc"), col("dup_count"),
          (col("doc_id") === col("canonical_doc")).as("is_canonical"))
      val plan = served.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin"),
        s"bucketed serving join must sort-merge, got:\n${plan.take(800)}")
      require(!plan.contains("Exchange hashpartitioning"),
        s"bucketed store tables must join with no shuffle exchange:\n${plan.take(1500)}")
      served.localCheckpoint() // zero-exchange join executes HERE
        .orderBy(col("doc_id"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  // ---- G2: incremental connected components through the store ---------------

  /** Edge arrival batches for [[g2IncrementalCc]] (doc_id-ordered
    * terciles — d15's replay discipline, on edges). */
  val G2Batches = 3

  /** The g2 state machine, exposed for the spec: replays `pairs0`
    * (a_id, b_id) as [[G2Batches]] arrival batches — an edge arrives
    * with its LATER endpoint (crawl semantics: a link can only be seen
    * once both documents exist) — maintaining `(v, l)` component labels
    * and the edge set in the snapshot store under `root`. Per batch:
    * the new edges' endpoints name the AFFECTED components, the stored
    * edges of those components ∪ the batch edges recompute CC
    * ([[connectedComponents]] — large-star/small-star, d6's engine),
    * and the keyed label merge rewrites exactly the affected vertices.
    * This is the non-monotone graph case (d18's class): a bridge edge
    * arriving late MERGES two settled components and their labels
    * rewrite component-wide — a monotone pipeline cannot express it,
    * the keyed store merge can. Edge merges redeliver a slice of the
    * stored edges (v15's at-least-once overlap). The final labels are
    * provably batch-partition-invariant (CC of a union is independent
    * of arrival order), which is what lets d6's DECLARATIVE one-shot
    * oracle grade an incremental pipeline. Returns the final
    * (doc_id, canonical_id, cluster_size) served from the store alone. */
  private[graft] def incrementalCcRun(spark: SparkSession, pairs0: DataFrame,
                                      root: String,
                                      afterBatch: (DataFrame, Option[DataFrame]) => Unit =
                                        (_, _) => ()): DataFrame = {
    import graft.incremental.SnapshotStore
    val pairs = pairs0.toDF("a_id", "b_id").localCheckpoint()
    // a tier with no near-dup pairs has no graph: the labeling is empty
    // (the max-id aggregate below would return NULL and NPE otherwise)
    val maxIdRow = pairs.agg(greatest(max(col("a_id")), max(col("b_id")))).head
    if (maxIdRow.isNullAt(0)) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long)]
        .toDF("doc_id", "canonical_id", "cluster_size")
    }
    val maxId = maxIdRow.getLong(0)
    def inBatch(b: Int): Column =
      expr(s"least(${G2Batches - 1}, greatest(a_id, b_id) * $G2Batches div ${maxId + 1})") === b
    (0 until G2Batches).foreach { b =>
      val batchE = pairs.filter(inBatch(b)).localCheckpoint()
      val stateE = SnapshotStore.read(spark, s"$root/edges")
      val stateL = SnapshotStore.read(spark, s"$root/labels")
      // affected components = labels of the batch edges' endpoints; the
      // subgraph is their stored edges (both endpoints share a label
      // after the previous CC, so filtering on a_id's label suffices)
      val touched = batchE.select(col("a_id").as("v"))
        .unionByName(batchE.select(col("b_id").as("v"))).distinct()
        .localCheckpoint() // feeds aff, the subgraph scope AND afterBatch
      // pre-merge labels of the touched endpoints — names the affected
      // components (component-count-sized); ALSO handed to afterBatch so
      // per-batch consumers (d19b's election) can find component labels
      // that VANISH when this batch's merge absorbs them
      val affOld = stateL.map(sl => sl.join(touched, "v")
        .select(col("l")).distinct().localCheckpoint())
      val subE = (stateE, stateL, affOld) match {
        case (Some(se), Some(sl), Some(aff)) =>
          se.join(sl.select(col("v").as("a_id"), col("l")), "a_id")
            .join(broadcast(aff), "l")
            .select(col("a_id"), col("b_id"))
            .unionByName(batchE)
        case _ => batchE
      }
      val newLabels = connectedComponents(subE).toDF("v", "l")
      SnapshotStore.merge(spark, s"$root/labels", newLabels, Seq("v"))
      // redeliver a deterministic slice of already-stored edges: the
      // keyed merge must swallow the replay (v15's overlap discipline)
      val redelivered = stateE.map(se =>
        batchE.unionByName(se.filter(pmod(col("a_id"), lit(53)) === 0)))
        .getOrElse(batchE)
      SnapshotStore.merge(spark, s"$root/edges", redelivered,
        Seq("a_id", "b_id"))
      afterBatch(touched, affOld)
    }
    val lab = SnapshotStore.read(spark, s"$root/labels").get
    val sizes = lab.groupBy(col("l")).agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, "l")
      .select(col("v").as("doc_id"), col("l").as("canonical_id"),
        col("cluster_size"))
      .localCheckpoint() // materialized before the temp store dies
      .orderBy(col("doc_id"))
  }

  /** G2: d6's cluster assignment maintained INCREMENTALLY — the graph
    * twin of d15 (admission) and d18 (delete/re-admit): the verified
    * near-dup pair graph (d2's operator output) arrives as three edge
    * batches and the component labels live in the snapshot store between
    * runs; each batch recomputes ONLY the components its edges touch.
    * The final state must hash-match d6's one-shot recursive-CTE oracle
    * over the full pair set — arrival order is invisible.
    *
    * Scale shape: per batch the CC rerun is |affected components'
    * edges| + |batch|, not the whole graph — at 10¹⁰ edges a settled
    * component is never re-shuffled until an edge touches it; labels
    * and edges are keyed store tables (bucketable, incrementally
    * merged); the affected-label frame is component-count-sized and
    * broadcast. The one corpus-sized term is d2's pair mining, which is
    * d2's own gate. */
  val g2IncrementalCc: Q = (spark, dir) => {
    val root = java.nio.file.Files.createTempDirectory("graft-g2").toString
    try {
      val pairs = d2Pairs(spark, dir).select(col("a_id"), col("b_id"))
      incrementalCcRun(spark, pairs, root)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- G2B: incremental CC under EDGE RETIREMENT (the split case) ----------

  /** g2b's retirement predicate modulus: edges with
    * `(a_id + b_id) % [[G2bRetireMod]] == [[G2bRetireRem]]` are retired.
    * Arithmetic on the edge's own ids so DuckDB applies the identical
    * cut to the exact pair set. */
  val G2bRetireMod = 7L
  val G2bRetireRem = 3L

  /** The g2b state machine, exposed for the spec: builds full CC state
    * through the store ([[incrementalCcRun]]'s batched arrival), then
    * RETIRES the stored edges matching `retire` (a takedown /
    * right-to-be-forgotten sweep — `SnapshotStore.delete`, d18's
    * machinery on the graph) and recomputes EXACTLY the touched
    * components from the surviving edge set. This is the direction g2's
    * bridge-merge case left unexpressed, and the harder one: a deleted
    * bridge SPLITS a settled component, so both halves must re-label
    * (min-id per half) and a vertex that lost its LAST edge must leave
    * the labeling entirely (the oracle's vertex set is the surviving
    * edges' endpoints). Monotone label propagation cannot express a
    * split; delete + scoped recompute + keyed merge can.
    *
    * Scale shape: the retirement sweep is one predicate pass
    * (partition-scoped in the store); the recompute is |affected
    * components' surviving edges|, not the graph; the affected-label
    * frame is component-count-sized and broadcast; the isolated-vertex
    * set (≤ 2·|retired edges| — only a retired edge's endpoint can lose
    * its last edge) stays a DataFrame end to end and drains through
    * [[graft.incremental.SnapshotStore.deleteKeys]]'s anti-join, so a
    * takedown batch that retires millions of edges never collects row
    * data to the driver. Settled components untouched by the sweep are
    * never re-shuffled or re-labeled. */
  private[graft] def ccRetireRun(spark: SparkSession, pairs0: DataFrame,
                                 root: String, retire: Column): DataFrame = {
    import graft.incremental.SnapshotStore
    val built = incrementalCcRun(spark, pairs0, root) // builds edges+labels state
    // a tier with zero near-dup pairs wrote no state tables (the empty
    // labeling IS the built frame) — there is nothing to retire
    if (SnapshotStore.read(spark, s"$root/edges").isEmpty) return built
    ccRetireState(spark, root, retire)
  }

  /** The post-build half of [[ccRetireRun]] — retire the `retire`-matching
    * EDGES from the stored graph under `root` and recompute exactly the
    * touched components over the survivors (assumes the edges/labels
    * tables exist). Doc-level takedowns ([[g2cDocTakedown]]) reuse it
    * with the incident-edge predicate `retireP(a_id) OR retireP(b_id)`:
    * a retired doc loses every incident edge, so the isolated-vertex
    * drain removes it from the labeling along with any surviving
    * neighbor that lost its last edge — one machine, no drift. */
  private[graft] def ccRetireState(spark: SparkSession, root: String,
                                   retire: Column): DataFrame = {
    import graft.incremental.SnapshotStore
    val stateE0 = SnapshotStore.read(spark, s"$root/edges").get
    // frozen BEFORE the delete moves the store: these rows name the sweep
    val retired = stateE0.filter(retire).localCheckpoint()
    SnapshotStore.delete(spark, s"$root/edges", retire)
    val surviving = SnapshotStore.read(spark, s"$root/edges").get
    val stateL = SnapshotStore.read(spark, s"$root/labels").get
    val touched = retired.select(col("a_id").as("v"))
      .unionByName(retired.select(col("b_id").as("v"))).distinct()
    val aff = stateL.join(touched, "v").select(col("l")).distinct()
      .localCheckpoint() // names the components; component-count-sized
    val subE = surviving
      .join(stateL.select(col("v").as("a_id"), col("l")), "a_id")
      .join(broadcast(aff), "l")
      .select(col("a_id"), col("b_id"))
      .localCheckpoint() // feeds the CC rerun AND the isolation check
    val newLabels = connectedComponents(subE).toDF("v", "l")
    SnapshotStore.merge(spark, s"$root/labels", newLabels, Seq("v"))
    // a vertex of a retired edge with NO surviving edge leaves the
    // labeling (the oracle's vertex set is the surviving endpoints):
    // the keyed delete takes the isolated-vertex FRAME as-is — anti-join
    // semantics, never a driver collect or an isin literal, so a
    // takedown batch that retires millions of edges stays distributed
    val subVerts = subE.select(col("a_id").as("v"))
      .unionByName(subE.select(col("b_id").as("v"))).distinct()
    val isolated = touched.join(subVerts, Seq("v"), "left_anti")
    SnapshotStore.deleteKeys(spark, s"$root/labels", Seq("v"), isolated)
    val lab = SnapshotStore.read(spark, s"$root/labels").get
    val sizes = lab.groupBy(col("l")).agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, "l")
      .select(col("v").as("doc_id"), col("l").as("canonical_id"),
        col("cluster_size"))
      .localCheckpoint() // materialized before the temp store dies
      .orderBy(col("doc_id"))
  }

  /** G2B: d6's cluster assignment maintained under DELETION — g2's twin
    * for the non-monotone direction d18 proved on the similarity ladder:
    * the near-dup edge set arrives in batches (g2's machinery verbatim),
    * then a deterministic retirement sweep row-DELETEs a slice of the
    * stored edges and only the touched components recompute over the
    * SURVIVORS. Graded by d6's declarative recursive-CTE oracle over the
    * surviving edge set — the incremental delete discipline must land on
    * exactly the labeling a one-shot engine computes from scratch. */
  val g2bCcRetirement: Q = (spark, dir) => {
    val root = java.nio.file.Files.createTempDirectory("graft-g2b").toString
    try {
      val pairs = d2Pairs(spark, dir).select(col("a_id"), col("b_id"))
      ccRetireRun(spark, pairs, root,
        pmod(col("a_id") + col("b_id"), lit(G2bRetireMod)) === lit(G2bRetireRem))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- G1: link-graph PageRank (crawl-quality prior) ------------------------

  /** PageRank over a deterministic synthetic link graph — the crawl-graph
    * centrality signal web-corpus curation uses as a document-quality
    * prior (Common Crawl publishes exactly this kind of host-level rank;
    * quality-weighted sampling consumes it like t19's model score). The
    * documents table has no link column, so the graph is planted by
    * formula (three out-links per doc via affine maps mod n, self-loops
    * deflected) — the m1/m5 discipline: synthesize the payload
    * deterministically, keep every engine-side stage real.
    *
    * All arithmetic is integer fixed point (ranks in ppb, per-edge
    * transfer `r div 3`, damping `*85 div 100`), so the 5 unrolled
    * iterations are bit-reproducible in DuckDB — no float ever reaches
    * the hashed surface, the discipline t16/v13 set.
    *
    * Scale shape: the classic distributed PageRank loop — per iteration
    * ONE equi-join of ranks onto edges (both shuffled by doc key; on a
    * cluster the edge table would be bucketed by src so the join
    * co-locates) + one map-side-combined sum by dst. Each iteration is
    * `localCheckpoint`ed: the frame feeds the next join twice removed,
    * and without truncation the unrolled lineage re-executes all prior
    * iterations per consumer (the d6/t21 lesson). */
  private val G1Links = Seq((1000003L, 7L), (2000003L, 11L), (3000017L, 13L))
  val G1Iters = 5

  /** The planted link graph as `(src, k, dst)` — `k` is the LINK SLOT
    * (0..2), carried because two affine maps CAN land the same dst for
    * one src: the graph is a multigraph, duplicate (src, dst) rows
    * contribute twice to the rank sum and the in-degree, and g1b's keyed
    * store merge needs (src, k) to preserve exactly that multiplicity
    * (a (src, dst)-keyed merge would silently dedup the multi-edge).
    * Shared by g1 (which drops k) and g1b — one synthesis, no drift. */
  private[graft] def g1EdgesForSpec(docs: DataFrame, n: DataFrame): DataFrame =
    g1Edges(docs, n)

  private def g1Edges(docs: DataFrame, n: DataFrame): DataFrame =
    docs.crossJoin(broadcast(n))
      .select(col("doc_id").as("src"), col("n"),
        posexplode(array(G1Links.map { case (p, q) =>
          (col("doc_id") * lit(p) + lit(q)) % col("n") }: _*)).as(Seq("k", "d0")))
      .select(col("src"), col("k").cast(LongType).as("k"),
        when(col("d0") === col("src"), (col("d0") + 1) % col("n"))
          .otherwise(col("d0")).as("dst"))

  /** The [[G1Iters]]-step fixed-point rank loop over an ARBITRARY edge
    * frame — g1's body, shared with g1b (which runs it over the edge set
    * served from the snapshot store): per iteration one equi-join of
    * ranks onto edges + one map-side-combined sum by dst, each step
    * checkpointed (the d6/t21 lineage lesson). Returns every iteration's
    * (doc_id, r) frame, 1-indexed. */
  private def g1RankChain(docs: DataFrame, n: DataFrame,
                          edges: DataFrame): Seq[DataFrame] = {
    var r = docs.crossJoin(broadcast(n))
      .select(col("doc_id"), expr("1000000000 div n").as("r"))
      .localCheckpoint()
    (1 to G1Iters).map { _ =>
      val contrib = edges.join(r, edges("src") === r("doc_id"))
        .groupBy(col("dst")).agg(sum(expr("r div 3")).as("c"))
      r = docs.crossJoin(broadcast(n))
        .join(contrib, docs("doc_id") === contrib("dst"), "left")
        .select(docs("doc_id"),
          (expr("150000000 div n") + expr("coalesce(c, 0) * 85 div 100")).as("r"))
        .localCheckpoint()
      r
    }
  }

  val g1PageRank: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents").select(col("doc_id")).localCheckpoint()
    val n = docs.agg(count(lit(1)).as("n"))
    val edges = g1Edges(docs, n).select(col("src"), col("dst"))
      .localCheckpoint() // reused by all G1Iters joins + the in-degree agg
    val r = g1RankChain(docs, n, edges).last
    val indeg = edges.groupBy(col("dst").as("doc_id"))
      .agg(count(lit(1)).as("in_deg"))
    r.join(indeg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("r").as("rank_ppb"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .orderBy(col("doc_id"))
  }

  // ---- G1B: incremental PageRank through the store ---------------------------

  /** Edge arrival batches for [[g1bIncrementalPagerank]]. */
  val G1bBatches = 2

  /** G1B: g1's rank loop maintained THROUGH THE STORE — g2's arrival
    * discipline applied to iteration state (the last graph × store
    * composition): the planted edges arrive as [[G1bBatches]] batches
    * with a REDELIVERED overlap (the (src, k)-keyed edge merge must
    * swallow the replay — and must NOT dedup the graph's genuine
    * multi-edges, which is why the link slot k is part of the key);
    * after each batch the full [[G1Iters]]-step chain re-runs over the
    * edge set SERVED FROM THE STORE and every iteration's ranks merge
    * keyed (iter, doc_id), each merge redelivering the previous
    * iteration's rows (v25's at-least-once discipline on rank state).
    * Full recompute per batch is honest for PageRank — rank is a global
    * fixed point, there is no affected-subgraph shortcut — so the gate
    * is that STATE and REPLAY discipline hold: the final output is
    * served from the persisted iteration-[[G1Iters]] rows + the stored
    * edge table alone and must hash-match g1's one-shot oracle. A
    * dropped edge, a deduped multi-edge, a double-applied redelivery or
    * a stale rank row anywhere reds the hash.
    *
    * Scale shape: per batch, [[G1Iters]] equi-join + map-side-combined
    * agg rounds over the stored edges (bucketable by src — the
    * dag_bucketed_join layout: zero-exchange rank joins at rest); rank
    * state is vertices-sized, keyed, incrementally merged; a restarted
    * training run resumes from the stored iteration rows instead of
    * replaying history. */
  val g1bIncrementalPagerank: Q = (spark, dir) => {
    import graft.incremental.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("graft-g1b").toString
    try {
      val docs = t(spark, dir, "documents").select(col("doc_id")).localCheckpoint()
      val n = docs.agg(count(lit(1)).as("n"))
      val allE = g1Edges(docs, n).localCheckpoint()
      (0 until G1bBatches).foreach { b =>
        val batchE = allE.filter(pmod(col("src"), lit(G1bBatches.toLong)) === b)
        // redeliver a deterministic slice of already-stored edges: the
        // keyed merge must swallow the replay (v15's overlap discipline)
        val delivered = SnapshotStore.read(spark, s"$root/edges")
          .map(se => batchE.unionByName(se.filter(pmod(col("src"), lit(53)) === 0)))
          .getOrElse(batchE)
        SnapshotStore.merge(spark, s"$root/edges", delivered, Seq("src", "k"))
        val storedE = SnapshotStore.read(spark, s"$root/edges").get
          .select(col("src"), col("dst"))
          .localCheckpoint() // reused by all G1Iters joins of this batch
        g1RankChain(docs, n, storedE).zipWithIndex.foreach { case (r, i) =>
          val it = i + 1
          val rows = r.select(lit(it.toLong).as("iter"), col("doc_id"), col("r"))
          // iteration it's rows PLUS a redelivery of iteration it−1's —
          // the keyed merge must swallow the replay (v25's discipline)
          val prev = SnapshotStore.read(spark, s"$root/ranks")
            .map(_.filter(col("iter") === (it - 1L)))
          SnapshotStore.merge(spark, s"$root/ranks",
            prev.map(rows.unionByName(_)).getOrElse(rows), Seq("iter", "doc_id"))
        }
      }
      // served from the PERSISTED state alone: final-iteration ranks +
      // in-degree off the stored edge table
      val finalR = SnapshotStore.read(spark, s"$root/ranks").get
        .filter(col("iter") === G1Iters.toLong)
        .select(col("doc_id"), col("r"))
      val indeg = SnapshotStore.read(spark, s"$root/edges").get
        .groupBy(col("dst").as("doc_id")).agg(count(lit(1)).as("in_deg"))
      finalR.join(indeg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("r").as("rank_ppb"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"))
        .localCheckpoint() // materialized before the temp store dies
        .orderBy(col("doc_id"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- T24: text normalization (the pass that precedes every hash) ---------

  /** CCNet/C4-style normalization pipeline, the pass every dedup/hash
    * stage assumes has already run: lowercase → strip the punctuation
    * class → collapse space runs → trim. Emits the audit counters a
    * curation run monitors (how much punctuation, how much collapsed
    * whitespace) plus the md5 of the normalized form — the key the
    * exact-dedup tier would group by. Pure map-side string work inside
    * whole-stage codegen; the only shuffle is the final presentation
    * sort. Both engines apply the identical regexes (Spark replaces all
    * matches by default; the oracle passes the 'g' flag). */
  val t24Normalize: Q = (spark, dir) =>
    t(spark, dir, "documents")
      .withColumn("s1", lower(col("text")))
      .withColumn("s2", regexp_replace(col("s1"), "[.,!?;:]", ""))
      .withColumn("norm", trim(regexp_replace(col("s2"), " +", " ")))
      .select(col("doc_id"),
        length(col("text")).as("n_chars_raw"),
        (length(col("s1")) - length(col("s2"))).as("n_punct"),
        (length(col("s2")) - length(col("norm"))).as("n_ws_collapsed"),
        length(col("norm")).as("n_chars_norm"),
        md5(col("norm")).as("norm_md5"))
      .orderBy(col("doc_id"))

  // ---- D13: dedup-recall eval (SimHash banding vs the exact pair set) ------

  /** SimHash band split: 60 bits = [[SimBands]] × [[SimBandBits]]. A pair
    * within Hamming distance d collides on ≥1 band whenever its differing
    * bits avoid one band — the standard LSH-for-Hamming candidate scheme
    * (all pairs at d < [[SimBands]] are GUARANTEED candidates; beyond
    * that, probabilistically). */
  val SimBandBits = 15
  val SimBands = 4

  /** Dedup-quality evaluation — v12's recall-eval pattern applied to the
    * DEDUP ladder: band the d3 SimHash fingerprints, mine candidate
    * pairs, and grade them against d2's exact verified near-dup pairs
    * (J ≥ 1/2) as precision/recall in exact ppm. This is the operator a
    * curation deployment runs when tuning fingerprint width/banding
    * before committing a cheaper dedup tier: it measures the ACTUAL d3
    * serving path against the corpus's own ground truth, not a synthetic.
    *
    * Scale shape: banding is an equi-join on (band, value) buckets — the
    * same bounded-bucket candidate topology as d2's LSH (never
    * all-pairs); the metric aggregates are three counts plus a
    * broadcast-sized stitch. In production the exact side comes from a
    * SAMPLE (d2 on a stripe), exactly how v12 samples its query set. All
    * arithmetic integer; the div guards (nullif) mirror the oracle. */
  val d13DedupEval: Q = (spark, dir) => {
    // r15 opt (§2.6): the simhash fingerprint pass and d2's LSH+verify
    // chain are independent eager builds — overlap their jobs
    val (sh, exact0) = inParallel(spark,
      d3Fingerprints(spark, dir).localCheckpoint(), // self-join (see d2)
      d2Pairs(spark, dir))
    val mask = (1L << SimBandBits) - 1
    val bands = sh.select(col("doc_id"), explode(expr(
      s"transform(sequence(0, ${SimBands - 1}), b -> " +
        s"struct(b AS band, shiftright(simhash, b * $SimBandBits) & $mask AS v))")).as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.v").as("v"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val exact = exact0.select(col("a_id"), col("b_id"))
    // one keyed full-outer + one aggregate: candidate-only rows count
    // toward precision's denominator, exact-only rows toward recall's,
    // matched rows toward both — no single-row cross stitch anywhere
    cand.withColumn("c", lit(1L))
      .join(exact.withColumn("e", lit(1L)), Seq("a_id", "b_id"), "full_outer")
      .agg(count(col("c")).as("n_cand"), count(col("e")).as("n_exact"),
        count(when(col("c").isNotNull && col("e").isNotNull, lit(1))).as("n_hit"))
      .select(col("n_cand"), col("n_exact"), col("n_hit"),
        expr("n_hit * 1000000 div nullif(n_cand, 0)").as("precision_ppm"),
        expr("n_hit * 1000000 div nullif(n_exact, 0)").as("recall_ppm"))
  }

  // ---- T16: graded contamination score (t8's filter, as a fraction) --------

  /** Per-training-doc contamination FRACTION: of the doc's distinct
    * [[DecontGram]]-grams, how many appear anywhere in the held-out eval
    * slice — t8 reports the offending pairs (a filter); this grades every
    * doc for threshold-based policies (GPT-3 appendix C measured overlap
    * the same way before choosing what to drop). `risk` buckets on the
    * 1e-6-rounded fraction: clean (0) / low (< 0.1) / high.
    *
    * Scale shape: identical to t8 — the eval gram set is benchmark-sized
    * and BROADCASTS; training grams make one distinct shuffle on uniform
    * (doc, hash) keys, the membership join is map-side, and only per-doc
    * counts aggregate. The fraction rounds in the INTEGER domain
    * (`(2·hit·10⁶ + n) div 2n`, all-positive) and the bucket compares the
    * integer — no engine's double-rounding policy can flip a digit or a
    * bucket (the q1/v5 lesson). */
  /** t16 body over an arbitrary documents frame (shared with pipe2). */
  private[queries] def contamScores(docs: DataFrame): DataFrame = {
    val evg = decontGrams(docs.filter(pmod(col("doc_id"), lit(DecontMod)) === 0), "eval_id")
      .select(col("g")).distinct().withColumn("hit", lit(1L))
    val trg = decontGrams(docs.filter(pmod(col("doc_id"), lit(DecontMod)) =!= 0), "doc_id")
      .distinct()
    trg.join(broadcast(evg), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("frac6u", expr("(2 * n_hit * 1000000 + n_grams) div (2 * n_grams)"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        (col("frac6u") / lit(1000000.0)).as("contam_frac"),
        when(col("n_hit") === 0, "clean")
          .when(col("frac6u") < 100000, "low")
          .otherwise("high").as("risk"))
  }

  val t16ContamScore: Q = (spark, dir) =>
    contamScores(fanOut(spark, t(spark, dir, "documents"))).orderBy(col("doc_id"))

  // ---- T10: boilerplate / repeated-passage ratio ---------------------------

  /** A gram counts as boilerplate once ≥ [[BoilerK]] distinct docs carry it. */
  val BoilerK = 3

  /** Per-document repeated-passage ratio: the fraction of a doc's distinct
    * 8-grams that appear in ≥ [[BoilerK]] distinct documents — the
    * corpus-level boilerplate signal (headers, licence blocks, templated
    * text) that near-dup pair mining by design does not surface.
    *
    * Scale shape: unlike t9's vocabulary-sized term table, the distinct
    * gram table IS corpus-sized, so the df join cannot broadcast — this is
    * the engine's one deliberate BIG-BIG shuffle join, and it's safe
    * because both sides shuffle on the same uniform 64-bit gram hash
    * (skew-free by construction) and the join output collapses
    * immediately into the per-doc aggregate. Grams travel as xxhash64
    * longs (8 B; same bijection argument as t8). */
  val t10Boilerplate: Q = (spark, dir) => {
    val dg = decontGrams(fanOut(spark, t(spark, dir, "documents")), "doc_id")
      .distinct() // per-doc distinct grams, one shuffle on (doc_id, hash)
      .localCheckpoint() // feeds the df aggregate AND the join (see t9)
    val gdf = dg.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
    dg.join(gdf, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gdf") >= BoilerK, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_grams"), col("n_boiler"),
        expr("n_boiler * 1000000 div n_grams").as("boiler_ppm"))
      .orderBy(col("doc_id"))
  }

  // ---- D8: exact repeated-substring spans (distributed suffix-array dedup) -

  /** A repeat must span at least this many words to be marked (Lee et al.
    * 2022, arXiv:2107.06499, use ≥50 BPE tokens; 8 suits the fixture
    * docs' lengths — same width as [[DecontGram]]). */
  val DupSpanGram = 8

  /** EXACT repeated-substring spans — the distributed re-expression of
    * suffix-array dedup (Lee et al. 2022: delete every substring ≥ L that
    * repeats anywhere in the corpus). A suffix array is inherently
    * sequential; the equivalent marked-span set falls out of relational
    * ops: a word position is covered by a repeated substring of length
    * ≥ L iff some L-gram through it occurs ≥ 2 times corpus-wide (any
    * longer repeat contains a repeated L-gram at every offset), so
    * marking repeated L-gram starts and unioning their [i, i+L) intervals
    * per doc yields exactly the tokens suffix-array dedup would cut.
    * Output per affected doc: gram/span counts, covered-token count, and
    * the covered fraction of the doc (within-doc self-repeats count,
    * matching the suffix-array semantics).
    *
    * Scale shape: gram explode in the scan stage (t8's fan-out), corpus
    * occurrence counting by map-side-combined hash agg, then t10's
    * deliberate BIG-BIG shuffle join back on the uniform 8-B gram hash
    * (skew split by AQE; output collapses straight into the per-doc
    * window + agg). The interval union is a per-doc running-max window —
    * partition-confined, never global. Grams travel as xxhash64 longs
    * (t8's bijection-at-word-boundaries argument; digests never reach
    * the output). */
  val d8SubstringDedup: Q = (spark, dir) => {
    val ex = fanOut(spark, t(spark, dir, "documents"))
      .withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= DupSpanGram)
      .select(col("doc_id"), size(col("w")).cast(LongType).as("n_words"),
        explode(sequence(lit(0), size(col("w")) - DupSpanGram)).as("i"),
        col("w"))
      .select(col("doc_id"), col("n_words"), col("i").cast(LongType).as("i"),
        xxhash64((0 until DupSpanGram).map(k => col("w")(col("i") + k)): _*).as("g"))
      .localCheckpoint() // feeds the occurrence count AND the mark join (see t9)
    val rep = ex.groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    // running max of span ends within the doc = the classic sorted
    // interval-union sweep; each marked start contributes the part of
    // [i, i+L) past everything already covered
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ex.join(rep.select(col("g")), "g")
      .withColumn("prev_end", max(col("i") + DupSpanGram).over(wPrev))
      .withColumn("covered",
        (col("i") + DupSpanGram) - greatest(col("i"), coalesce(col("prev_end"), lit(0L))))
      .groupBy(col("doc_id"), col("n_words"))
      .agg(count(lit(1)).as("n_dup_grams"),
        sum(when(col("covered") === DupSpanGram, 1L).otherwise(0L)).as("n_spans"),
        sum(col("covered")).as("dup_tokens"))
      .select(col("doc_id"), (col("n_words") - DupSpanGram + 1).as("n_grams"),
        col("n_dup_grams"), col("n_spans"), col("dup_tokens"),
        expr("dup_tokens * 1000000 div n_words").as("dup_ppm"))
      .orderBy(col("doc_id"))
  }

  // ---- D16: repeated-substring CUT — the dedup as a transformation ---------

  /** d8 emits the MEASURE (how much suffix-array dedup would cut); d16
    * emits the TRANSFORMATION — the text with every covered span deleted,
    * which is what Lee et al. 2022 (arXiv:2107.06499) actually do to the
    * training corpus. Covered positions are the same d8 L-gram marks
    * (position p is cut iff some repeated [[DupSpanGram]]-gram starts in
    * (p−L, p]); the kept text is the uncovered words re-joined in
    * position order, emitted as an md5 so the whole rewritten corpus sits
    * on the hashed surface (the canonical form is lowercased
    * space-joined — the same normalization every d/t gram operator uses).
    *
    * Scale shape: gram explode + corpus occurrence count as in d8; the
    * covered-position explode is a bounded ≤ L× fan-out of MARKED grams
    * only (true-dup volume, not corpus volume), distinct'd on the
    * (doc, position) key. The word-level rebuild — the only stage that
    * shuffles text word-by-word — runs ONLY for docs that actually have
    * cuts (a left-semi on the covered doc set): every untouched doc's
    * kept_md5 is a map-only md5 of its canonical text, so rebuild volume
    * is true-dup volume, not corpus volume. Reassembly is doc-confined
    * memory (the same bound as holding the document). No global window
    * anywhere. */
  val d16SubstringCut: Q = (spark, dir) =>
    d16CutReport(spark, dir).orderBy(col("doc_id"))

  /** d16's full per-doc cut report, unsorted — shared with pipe6, which
    * packs the CUT corpus instead of re-measuring it. */
  private[queries] def d16CutReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .withColumn("n_words", size(col("w")).cast(LongType))
      .localCheckpoint() // feeds the gram explode AND the position-word frame
    val ex = docs.filter(col("n_words") >= DupSpanGram)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0L), col("n_words") - DupSpanGram)).as("i"))
      .select(col("doc_id"), col("i"),
        xxhash64((0 until DupSpanGram).map(k =>
          col("w")(col("i") + k)): _*).as("g"))
      .localCheckpoint() // feeds the occurrence count AND the mark join (see d8)
    val rep = ex.groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    val covered = ex.join(rep.select(col("g")), "g")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (DupSpanGram - 1))).as("p"))
      .distinct()
      .localCheckpoint() // feeds the cut-doc set AND the anti-join
    val cutDocs = covered.select(col("doc_id")).distinct()
    val words = docs
      .join(cutDocs, Seq("doc_id"), "left_semi") // rebuild cut docs only
      .select(col("doc_id"), posexplode(col("w")))
      .toDF("doc_id", "p", "word")
      .withColumn("p", col("p").cast(LongType))
    val rebuilt = words.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_words"),
        expr("concat_ws(' ', transform(array_sort(collect_list(struct(p, word))), s -> s.word))")
          .as("ktext"))
    // a FULLY-covered doc is a cut doc with no rebuilt row (the anti-join
    // drops every word): kept = 0 / md5(""), not the untouched fallback
    docs.select(col("doc_id"), col("n_words"), col("w"))
      .join(rebuilt, Seq("doc_id"), "left")
      .join(cutDocs.withColumn("is_cut", lit(true)), Seq("doc_id"), "left")
      .withColumn("kept_words", when(col("is_cut").isNull, col("n_words"))
        .otherwise(coalesce(col("kept_words"), lit(0L))))
      .select(col("doc_id"), col("n_words"), col("kept_words"),
        (col("n_words") - col("kept_words")).as("cut_tokens"),
        when(col("is_cut").isNull, md5(concat_ws(" ", col("w"))))
          .otherwise(md5(coalesce(col("ktext"), lit("")))).as("kept_md5"))
  }

  // ---- D17: incremental substring cut — retroactive invalidation -----------

  /** d16 through arrival batches — the NON-MONOTONE incremental class:
    * a new document can complete a corpus-wide gram repeat and thereby
    * change the cut of a document ingested long ago, so unlike d15's
    * admission (monotone: decisions never revisit) the state must
    * support RETROACTIVE invalidation. The machinery: gram counts
    * accumulate additively through the store (k7s's full-outer add,
    * behind a seen-doc_id dedup so an at-least-once redelivery can't
    * fake a repeat); a batch's CROSSERS are the grams whose global count
    * first reaches 2 in this batch; the docs to (re-)cut are the batch's
    * own plus every stored doc touching a crosser (a gram→doc membership
    * table keyed (g, doc) answers that); their reports recompute against
    * the NEW global counts and the keyed merge replaces the stale rows.
    * Counts only grow, so a doc's covered set only grows, and docs not
    * touching a crosser are provably unchanged — re-cut volume is
    * true-retroactive volume, not corpus volume.
    *
    * The final report table must equal d16's one-shot output exactly —
    * the oracle IS d16's (same SQL), and the retroactive case is pinned
    * by a fixture where the repeat's two halves arrive two batches
    * apart. */
  val d17IncrementalCut: Q = (spark, dir) => {
    import graft.incremental.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("graft-inccut").toString
    try {
      val docs = t(spark, dir, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
        .withColumn("n_words", size(col("w")).cast(LongType))
        .localCheckpoint()
      val nDocs = math.max(docs.count(), 1L) // 1-row action, like d15's
      def inBatch(b: Int): Column =
        expr(s"least(${D15Batches - 1}, doc_id * $D15Batches div $nDocs)") === b
      (0 until D15Batches).foreach { b =>
        // drop 1 REDELIVERS part of drop 0: the seen-doc dedup must
        // swallow it, or the doubled gram counts would fake a repeat
        val arriving =
          if (b == 1) docs.filter(inBatch(1))
            .unionByName(docs.filter(inBatch(0) && pmod(col("doc_id"), lit(7)) === 0))
          else docs.filter(inBatch(b))
        val fresh = SnapshotStore.read(spark, s"$root/docw") match {
          case Some(s) =>
            arriving.join(s.select(col("doc_id")), Seq("doc_id"), "left_anti")
          case None => arriving
        }
        val freshC = fresh.localCheckpoint() // feeds grams, targets AND the docw merge
        def gramsOf(d: DataFrame): DataFrame = d
          .filter(col("n_words") >= DupSpanGram)
          .select(col("doc_id"), col("w"),
            explode(sequence(lit(0L), col("n_words") - DupSpanGram)).as("i"))
          .select(col("doc_id"), col("i"),
            xxhash64((0 until DupSpanGram).map(k => col("w")(col("i") + k)): _*).as("g"))
        val exB = gramsOf(freshC).localCheckpoint() // counts + membership merge
        val gcB = exB.groupBy(col("g")).agg(count(lit(1)).as("c"))
        val newCnt = (SnapshotStore.read(spark, s"$root/gramcnt") match {
          case Some(old) => old.select(col("g"), col("cnt").as("prev"))
            .join(gcB, Seq("g"), "full_outer")
            .select(col("g"),
              (coalesce(col("prev"), lit(0L)) + coalesce(col("c"), lit(0L))).as("cnt"),
              coalesce(col("c"), lit(0L)).as("c_batch"))
          case None => gcB.select(col("g"), col("c").as("cnt"), col("c").as("c_batch"))
        }).localCheckpoint() // frozen BEFORE the gramcnt merge moves the store
        // crossers: global count first reached 2 in THIS batch
        val crossers = newCnt
          .filter(col("cnt") >= 2 && (col("cnt") - col("c_batch")) < 2 &&
            col("c_batch") >= 1)
          .select(col("g"))
        val affectedOld = SnapshotStore.read(spark, s"$root/gramdocs") match {
          case Some(gd) => gd.join(crossers, Seq("g"), "left_semi")
            .select(col("doc_id")).distinct()
          case None => freshC.select(col("doc_id")).limit(0)
        }
        val targets = freshC.select(col("doc_id"))
          .unionByName(affectedOld).distinct()
        val allW = (SnapshotStore.read(spark, s"$root/docw") match {
          case Some(s) => s.unionByName(freshC)
          case None => freshC
        }).join(targets, Seq("doc_id"), "left_semi")
          .localCheckpoint() // grams, word frame AND the report stitch
        // re-cut targets against the NEW global counts (d16's machinery)
        val rep2 = newCnt.filter(col("cnt") >= 2).select(col("g"))
        val covered = gramsOf(allW).join(rep2, Seq("g"), "left_semi")
          .select(col("doc_id"),
            explode(sequence(col("i"), col("i") + (DupSpanGram - 1))).as("p"))
          .distinct()
          .localCheckpoint() // cut-doc set AND the anti-join
        val cutDocs = covered.select(col("doc_id")).distinct()
        val words = allW
          .join(cutDocs, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), posexplode(col("w")))
          .toDF("doc_id", "p", "word")
          .withColumn("p", col("p").cast(LongType))
        val rebuilt = words.join(covered, Seq("doc_id", "p"), "left_anti")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("kept_words"),
            expr("concat_ws(' ', transform(array_sort(collect_list(struct(p, word))), s -> s.word))")
              .as("ktext"))
        val reportB = allW
          .join(rebuilt, Seq("doc_id"), "left")
          .join(cutDocs.withColumn("is_cut", lit(true)), Seq("doc_id"), "left")
          .withColumn("kept_words", when(col("is_cut").isNull, col("n_words"))
            .otherwise(coalesce(col("kept_words"), lit(0L))))
          .select(col("doc_id"), col("n_words"), col("kept_words"),
            (col("n_words") - col("kept_words")).as("cut_tokens"),
            when(col("is_cut").isNull, md5(concat_ws(" ", col("w"))))
              .otherwise(md5(coalesce(col("ktext"), lit("")))).as("kept_md5"))
          .localCheckpoint() // frozen BEFORE the state merges move the store
        SnapshotStore.merge(spark, s"$root/report", reportB, Seq("doc_id"))
        // only grams the batch actually touched — the upsert keeps the
        // rest, so the state merge is batch-sized, never state-sized
        SnapshotStore.merge(spark, s"$root/gramcnt",
          newCnt.filter(col("c_batch") >= 1).select(col("g"), col("cnt")), Seq("g"))
        SnapshotStore.merge(spark, s"$root/gramdocs",
          exB.select(col("g"), col("doc_id")).distinct(), Seq("g", "doc_id"))
        SnapshotStore.merge(spark, s"$root/docw", freshC, Seq("doc_id"))
      }
      SnapshotStore.read(spark, s"$root/report").get
        .localCheckpoint() // materialized before the temp tree is deleted
        .orderBy(col("doc_id"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- T19: fixed-weight quality classifier (model-based filtering) --------

  /** t19 model constants, shared with the oracle verbatim: integer weights
    * over 1e-6 fixed-point features. The VALUES are stand-ins for a
    * trained model's (fastText-style quality filters — CCNet, Gopher,
    * RedPajama — ship learned weights; the engine's job is the
    * featurization + scoring shape, and literal weights keep the oracle
    * exact). Calibrated so the fixture corpus splits into all three
    * buckets. */
  val T19WStop = 4L
  val T19MeanTarget = 4500000L
  val T19MeanDiv = 4L
  val T19WSym = 2L
  val T19WLen = 8000L
  val T19LenCap = 50L
  val T19Intercept = 300000L
  val T19HiThresh = 300000L

  /** Model-based quality scoring — the learned-filter stage of a curation
    * stack (CCNet's fastText LM filter, RedPajama's quality classifier),
    * distinct from t1's hand-rule score: featurize each document into
    * 1e-6 fixed-point ratios (stopword density, mean word length,
    * symbol density, capped length) and apply a literal linear model
    * ENTIRELY in integer arithmetic — logit, keep decision and hi/mid/lo
    * bucket are exact in any engine (every division has a non-negative
    * numerator, so trunc-div ≡ floor-div and Spark's `div` agrees with
    * DuckDB's `//`).
    *
    * Scale shape: map-only — one projection in the scan stage, no
    * shuffle but the output sort; the stopword-membership lambda is the
    * one interpreted piece (t1/t2's trade-off), behind [[fanOut]] so
    * parallelism is never capped by input file count. Swapping in real
    * trained weights changes the literals, not the plan. */
  /** t19's feature + logit columns over any frame carrying `text` —
    * shared by [[t19QualityModel]] and [[d19CanonicalPick]]'s election so
    * the quality formula exists exactly once and can never drift. */
  private[graft] def t19Scored(df: DataFrame): DataFrame =
    df
      .withColumn("w", split(lower(col("text")), " "))
      .withColumn("len_c", length(col("text")).cast(LongType))
      .withColumn("n_words", size(col("w")).cast(LongType))
      .withColumn("f_stop6",
        expr(s"size(filter(w, x -> x in ${inList(StopEn)})) * 1000000L div n_words"))
      .withColumn("f_meanlen6", expr("(len_c - (n_words - 1)) * 1000000L div n_words"))
      .withColumn("f_sym6",
        expr("length(regexp_replace(text, '[A-Za-z0-9 ]', '')) * 1000000L div greatest(len_c, 1L)"))
      .withColumn("logit6",
        expr(s"""$T19WStop * f_stop6 - (abs(f_meanlen6 - ${T19MeanTarget}L) div $T19MeanDiv)
                | - $T19WSym * f_sym6 + $T19WLen * least(n_words, $T19LenCap)
                | - $T19Intercept""".stripMargin))

  val t19QualityModel: Q = (spark, dir) =>
    t19Scored(fanOut(spark, t(spark, dir, "documents")))
      .withColumn("keep", col("logit6") > 0)
      .withColumn("bucket",
        when(col("logit6") >= T19HiThresh, lit("hi"))
          .when(col("logit6") >= 0, lit("mid"))
          .otherwise(lit("lo")))
      .select(col("doc_id"), col("n_words"), col("f_stop6"), col("f_meanlen6"),
        col("f_sym6"), col("logit6"), col("keep"), col("bucket"))
      .orderBy(col("doc_id"))

  // ---- T20: Gopher rule filter (hard document-quality gates) ---------------

  /** t20 rule thresholds, shared with the oracle verbatim. Word-count
    * bounds, a mean-word-length band and a type–token-ratio floor in 1e-6
    * fixed point, and a minimum stopword count — each calibrated so the
    * fixture corpus genuinely splits on every rule (word counts span
    * 10–99, mean lengths 3.7–5.3, TTR 0.28–1.0). */
  val T20MinWords = 30L
  val T20MaxWords = 90L
  val T20MeanLo = 4000000L
  val T20MeanHi = 5000000L
  val T20TtrMin = 400000L
  val T20MinStop = 2L

  /** Gopher-style RULE filtering (Rae et al. 2021, arXiv:2112.11446 §A1.1)
    * — the hard-gate sibling of t19's learned model: each document gets a
    * named boolean per rule (word count in [[[T20MinWords]],[[T20MaxWords]]],
    * mean word length in the [[[T20MeanLo]],[[T20MeanHi]]] band,
    * type–token ratio ≥ [[T20TtrMin]], ≥ [[T20MinStop]] stopword
    * occurrences) plus the conjunction `pass`. Emitting the per-rule flags
    * — not just the verdict — is the operator's point: corpus curation
    * audits WHICH rule rejected a document. All ratios are 1e-6
    * fixed-point with non-negative numerators, so trunc-div ≡ floor-div
    * and no engine rounding policy can flip a flag.
    *
    * Scale shape: map-only — featurize and gate in the scan stage, no
    * shuffle before the output sort; the stopword-membership and distinct
    * lambdas stay per-row (t19's trade-off) behind [[fanOut]]. */
  val t20GopherRules: Q = (spark, dir) =>
    t20Flags(fanOut(spark, t(spark, dir, "documents")))
      .select(col("doc_id"), col("n_words"), col("f_meanlen6"), col("ttr6"),
        col("n_stop"), col("r_wordcount"), col("r_meanlen"), col("r_ttr"),
        col("r_stop"), col("pass"))
      .orderBy(col("doc_id"))

  /** t20's per-rule flags over any `(doc_id, text, ...)` frame — shared
    * by t20 (full-corpus report) and pipe7 (gate stage): one formula, no
    * drift. */
  private[graft] def t20Flags(df: DataFrame): DataFrame =
    df
      .withColumn("w", split(lower(col("text")), " "))
      .withColumn("len_c", length(col("text")).cast(LongType))
      .withColumn("n_words", size(col("w")).cast(LongType))
      .withColumn("f_meanlen6", expr("(len_c - (n_words - 1)) * 1000000L div n_words"))
      .withColumn("ttr6",
        expr("size(array_distinct(w)) * 1000000L div n_words"))
      .withColumn("n_stop",
        expr(s"size(filter(w, x -> x in ${inList(StopEn)}))").cast(LongType))
      .withColumn("r_wordcount",
        col("n_words") >= T20MinWords && col("n_words") <= T20MaxWords)
      .withColumn("r_meanlen",
        col("f_meanlen6") >= T20MeanLo && col("f_meanlen6") <= T20MeanHi)
      .withColumn("r_ttr", col("ttr6") >= T20TtrMin)
      .withColumn("r_stop", col("n_stop") >= T20MinStop)
      .withColumn("pass",
        col("r_wordcount") && col("r_meanlen") && col("r_ttr") && col("r_stop"))

  // ---- D10: per-source quota curation (domain balancing) -------------------

  /** Quota policy, shared with the oracle verbatim: a source keeps at most
    * `max(D10CapMin, n_docs × D10CapPct ÷ 100)` documents. */
  val D10CapPct = 20L
  val D10CapMin = 5L

  /** Per-source document quotas — the domain-balancing step of web-corpus
    * curation (C4 / RefinedWeb cap per-domain contributions so no host
    * dominates the mixture): rank each source's documents by a
    * deterministic preference (longest first, doc_id tiebreak) and keep
    * rank ≤ cap, where the cap is data-dependent (a floor of [[D10CapMin]]
    * or [[D10CapPct]] % of the source's volume, integer arithmetic).
    *
    * Scale shape — SKEW-PROOF exact rank: `Window.partitionBy(source)`
    * funnels a mega-domain (one source = half the corpus, the skewed-tier
    * rehearsal shape) through ONE window partition, and AQE cannot split
    * a window's partition. Instead the corpus RANGE-partitions on the
    * global (source, n_chars desc, doc_id) order — a heavy source spans
    * as many ranges as its volume demands — and the exact per-source rank
    * is composed from per-partition row_numbers plus a
    * partition-count-sized offset table (t7/t17's two-level cumsum,
    * generalized to a grouped rank). Both shuffles (the range exchange
    * and the (source, pid) window hash) are balanced under ANY source
    * distribution; the result is defined by the total order alone, so it
    * is identical for any partition count. The cap table reuses the
    * per-range counts (|sources|×ranges rows — domains, not documents)
    * and broadcasts. */
  val d10SourceQuota: Q = (spark, dir) => sourceQuota(t(spark, dir, "documents"))

  /** The quota rank over any `(source, doc_id, n_chars, ...)` frame —
    * shared by d10 (raw corpus) and pipe3 (gate survivors). Non-key
    * columns are dropped BEFORE the range exchange, so only fixed-width
    * triples cross the wire. */
  private[graft] def sourceQuota(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("source"), col("doc_id"), col("n_chars"))
    val parts = docs
      .repartitionByRange(32, col("source"), col("n_chars").desc, col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint() // feeds the offset/cap aggs AND the row-level join
    // per-(source, range) counts → per-source offsets (prefix over pid)
    // and the |sources|-sized cap table, one domain-sized frame for both
    val counts = parts.groupBy(col("source"), col("pid"))
      .agg(count(lit(1)).as("bn")).localCheckpoint()
    val offs = counts
      .withColumn("off", coalesce(sum(col("bn")).over(
        Window.partitionBy(col("source")).orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("pid"), col("off"))
    val caps = counts.groupBy(col("source")).agg(sum(col("bn")).as("n_docs"))
      .withColumn("cap",
        greatest(lit(D10CapMin), expr(s"n_docs * $D10CapPct div 100")))
    // within a range, one source's rows are a CONTIGUOUS slice of its
    // global preference order, so offset + local row_number = exact rank
    val w = Window.partitionBy(col("source"), col("pid"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    parts
      .withColumn("rk0", row_number().over(w).cast(LongType))
      .join(broadcast(offs), Seq("source", "pid"))
      .withColumn("rk", col("off") + col("rk0"))
      .join(broadcast(caps), "source")
      .filter(col("rk") <= col("cap"))
      .select(col("source"), col("doc_id"), col("n_chars"), col("rk"),
        col("n_docs"), col("cap"))
      .orderBy(col("source"), col("rk"))
  }

  // ---- T21: leakage-free train/val/test split (cluster-aware) --------------

  /** Split fractions: bucket < 90 → train, < 95 → valid, else test. */
  val T21TrainPct = 90L
  val T21ValPct = 95L

  /** Dedup-cluster-aware dataset splitting — the step that makes a
    * held-out set actually held out: hashing DOCUMENTS into splits leaks
    * near-duplicates across the train/test boundary (the d2 graph has
    * hundreds of such pairs in this corpus alone), so the split key is
    * the document's d6 CANONICAL cluster id (its own id when unclustered).
    * Every near-dup cluster lands in one split BY CONSTRUCTION — no
    * post-hoc leakage scan needed — and membership is a deterministic md5
    * bucket of the key (t6's idiom), so the split is reproducible and
    * ratio drift is bounded by cluster-size variance, not randomness.
    *
    * Scale shape: d6's label table is dup-graph-sized; the join back to
    * the corpus is a plain equi-join on doc_id (AQE broadcasts it when
    * small, shuffles when a pathological corpus makes it big); the hash,
    * bucket and split label are map-side expressions. */
  val t21SplitLeakfree: Q = (spark, dir) => {
    val clusters = d6Labels(spark, dir)
      .select(col("doc_id"), col("canonical_id"))
    t(spark, dir, "documents").select(col("doc_id"), col("lang"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("group_key", coalesce(col("canonical_id"), col("doc_id")))
      .withColumn("bucket", pmod(
        expr("cast(conv(substring(md5(cast(group_key as string)),1,15),16,10) as bigint)"),
        lit(100L)))
      .withColumn("split",
        when(col("bucket") < T21TrainPct, lit("train"))
          .when(col("bucket") < T21ValPct, lit("valid"))
          .otherwise(lit("test")))
      .select(col("doc_id"), col("lang"), col("group_key"), col("bucket"),
        col("split"))
      .orderBy(col("doc_id"))
  }

  // ---- K3: per-source distribution drift (mixture monitoring) --------------

  /** Per-source language-mix drift vs the whole corpus — the monitoring
    * stat a production mixture pipeline alarms on (a crawl source whose
    * language distribution shifts is the first sign its content changed):
    * for every source, the L1 distance Σ_l |p(l|source) − p(l)| over the
    * FULL language domain (languages absent from a source contribute
    * their corpus share — skipping them understates drift), each share in
    * 1e-6 fixed point with non-negative numerators so trunc-div ≡
    * floor-div and the distance is exact in any engine.
    *
    * Scale shape: ONE corpus-sized pass — the map-side-combined
    * (source, lang) count — after which every frame is DOMAIN-sized
    * (|sources|, |langs|, |sources×langs|): the source and language
    * marginals re-aggregate the checkpointed count table, the full
    * source×lang grid is a cross of two aggregated tables, and the joins
    * broadcast. At 100 TB the corpus still shuffles once, on uniform
    * (source, lang) keys. */
  val k3SourceDrift: Q = (spark, dir) => {
    val sl = t(spark, dir, "documents")
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n_sl"))
      .localCheckpoint() // domain-sized; feeds four branches below
    val bySrc = sl.groupBy(col("source")).agg(sum(col("n_sl")).as("n_src"))
    val byLang = sl.groupBy(col("lang")).agg(sum(col("n_sl")).as("n_lang"))
    val total = sl.agg(sum(col("n_sl")).as("n_total"))
    bySrc.crossJoin(broadcast(byLang)) // the full domain grid, |S|×|L| rows
      .join(broadcast(sl), Seq("source", "lang"), "left")
      .crossJoin(broadcast(total))
      .withColumn("n_sl0", coalesce(col("n_sl"), lit(0L)))
      .withColumn("p6", expr("n_sl0 * 1000000L div n_src"))
      .withColumn("q6", expr("n_lang * 1000000L div n_total"))
      .groupBy(col("source"), col("n_src"))
      .agg(sum(abs(col("p6") - col("q6"))).as("l1_drift6"),
        count(lit(1)).as("n_langs"))
      .orderBy(col("source"))
  }

  // ---- D9: incremental batch-vs-corpus dedup (Bloom-prefiltered) -----------

  /** Batch stripe: docs with `doc_id % D9Mod == 0` play "today's crawl";
    * the other six sevenths play the accumulated corpus. Shared with the
    * oracle verbatim. */
  val D9Mod = 7L

  /** Incremental ingestion dedup: admit only the batch documents whose
    * content is not already in the accumulated corpus (after within-batch
    * exact dedup, d1's digest shape). This is what exact dedup becomes
    * once the corpus is 100 TB and grows daily — d1's full-corpus groupBy
    * re-shuffles the world on every ingest, while the incremental form
    * touches the corpus through exactly two shuffle-free scans: one feeds
    * a Bloom-filter build (distributed aggregation; only the filter
    * reaches the driver), the other is semi-joined against a BROADCAST of
    * the Bloom-surviving candidate digests. The corpus itself never
    * shuffles and is never re-deduplicated.
    *
    * The Bloom filter is a PREFILTER, never the authority: might-contain
    * = false proves absence (a Bloom filter has no false negatives), so
    * those rows pass outright; might-contain = true goes to an exact
    * sha-256 confirm join. The admitted set is therefore bit-identical to
    * a plain anti-join for ANY filter contents — fpp moves candidate
    * volume, never results (PipelineBatchOpsSpec pins d9 ≡ the direct
    * anti-join).
    *
    * Plumbing: the filter is built by `stat.bloomFilter`'s distributed
    * aggregation over xxhash64 keys and re-enters the plan as a binary
    * literal inside Catalyst's own codegen'd `BloomFilterMightContain`
    * (the engine's runtime-filter expression — zero UDFs, the probe stays
    * inside WholeStageCodegen). Envelope: ~7.3 bloom bits/key at fpp 3%
    * ⇒ ~0.9 GB per 1e9 corpus docs; past driver comfort, shard the build
    * by digest range or raise fpp — only confirm-join volume moves, the
    * output cannot. */
  val d9IncrementalDedup: Q = (spark, dir) => {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val docs = t(spark, dir, "documents")
    val batch = docs.filter(col("doc_id") % D9Mod === 0)
    val corpus = docs.filter(col("doc_id") % D9Mod =!= 0)
    // k = xxhash64(text) is constant within a digest group (same text),
    // so adding it to the grouping key changes nothing but carries the
    // Bloom probe key through — the digest stays the dedup authority
    val batchDedup = batch
      .groupBy(sha2(col("text"), 256).as("digest"), xxhash64(col("text")).as("k"))
      .agg(min_by(struct(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        col("doc_id")).as("keep"))
      .localCheckpoint() // feeds the pass-through AND the candidate branch
    val nCorpus = math.max(corpus.count(), 1L) // 1-row action, like d6's Σlabel
    val bloom = corpus.select(xxhash64(col("text")).as("k"))
      .stat.bloomFilter("k", nCorpus, 0.03)
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    // the filter bytes enter the plan as a closed-over binary Literal via
    // a per-build temp function — never through the SQL parser, so the
    // probe column is just `graft_bloom_probe(k)` however large the filter
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_probe",
      exprs => BloomFilterMightContain(Literal.create(bloomBytes, BinaryType), exprs.head),
      "built-in")
    val might = expr("graft_bloom_probe(k)")
    val cand = batchDedup.filter(might)
    // candidates broadcast INTO the corpus scan; only matched digests
    // (true-dup volume) ever shuffle, for the distinct
    val hits = corpus.select(sha2(col("text"), 256).as("digest"))
      .join(broadcast(cand.select(col("digest"))), Seq("digest"), "left_semi")
      .distinct()
    val fresh = cand.join(broadcast(hits), Seq("digest"), "left_anti")
    batchDedup.filter(!might).unionByName(fresh)
      .select(col("keep.doc_id"), col("keep.lang"), col("keep.source"), col("keep.n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- T11: repetition signals (Gopher-style quality rules) ----------------

  /** Window width of the duplicate-n-gram fraction. */
  val RepGram = 3

  /** Per-document repetition signals, after the Gopher quality rules
    * (Rae et al. 2021, arXiv:2112.11446 §A1.1 — "repetitious documents"):
    *
    *  - `dup_word_frac`    — 1 − distinct(words)/words (type–token complement);
    *  - `top_bigram_frac`  — occurrences of the most frequent word 2-gram
    *    over all 2-gram occurrences (NULL below 2 words);
    *  - `dup_3gram_frac`   — 1 − distinct/total [[RepGram]]-gram
    *    occurrences (NULL below [[RepGram]] words).
    *
    * BOTH n-gram families ride ONE fused explode inside the scan stage
    * (the t4 pattern: the generator's fan-out never crosses the wire):
    * each position emits a (gram_size, hash) struct, so the corpus is
    * tokenized once, exploded once, and shuffled once into a single
    * two-level map-side-combined count keyed by (doc, gram_size, hash) —
    * round 3 ran the families as three separate explode subtrees off a
    * shared checkpoint, paying the explode and the shuffle per family.
    * Grams shuffle as multi-arg xxhash64 longs — 8 B keys, uniform and
    * skew-free; only COUNTS leave the plan, so the oracle may group by
    * the gram string instead and the results agree unless xxhash64
    * collides within one document (~1e-19·n² — the t8/t10 argument). */
  val t11Repetition: Q = (spark, dir) => {
    val base = fanOut(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .localCheckpoint() // feeds the word-stats pass and the fused gram pass
    def gramStructs(n: Int) =
      s"""CASE WHEN size(w) >= $n
         |     THEN transform(sequence(0, size(w) - $n),
         |            i -> struct(${n}L AS gn, xxhash64(${
        (0 until n).map(j => s"w[i + $j]").mkString(", ")}) AS g))
         |     ELSE cast(array() as array<struct<gn: bigint, g: bigint>>)
         |END""".stripMargin
    val grams = base
      .select(col("doc_id"),
        explode(expr(s"concat(${gramStructs(2)}, ${gramStructs(RepGram)})")).as("x"))
      .select(col("doc_id"), col("x.gn").as("gn"), col("x.g").as("g"))
      // two-level: per-(doc, family, gram) occurrence counts collapse
      // map-side; the second level folds both families' totals/distincts/
      // max into one row per doc with conditional aggregates
      .groupBy(col("doc_id"), col("gn"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        sum(when(col("gn") === 2, col("c"))).as("n_bigrams"),
        max(when(col("gn") === 2, col("c"))).as("top_bigram"),
        sum(when(col("gn") === RepGram, col("c"))).as("n_3grams"),
        count(when(col("gn") === RepGram, lit(1))).as("nd5"))
    base
      .select(col("doc_id"), size(col("w")).as("n_words"),
        size(array_distinct(col("w"))).as("n_distinct_words"))
      .join(grams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        // 1 − a/b in exact integer ppm: (b − a)·1e6 div b (nulls propagate
        // through the integer ops exactly as through the float ones)
        expr("cast(n_words - n_distinct_words as bigint) * 1000000 div n_words")
          .as("dup_word_ppm"),
        expr("top_bigram * 1000000 div n_bigrams").as("top_bigram_ppm"),
        expr("(n_3grams - nd5) * 1000000 div n_3grams").as("dup_3gram_ppm"))
      .orderBy(col("doc_id"))
  }

  // ---- T12: data-mixture rebalancing ----------------------------------------

  /** Relative target weights per source (permille-style; they need not sum
    * to 1000 — the realized mixture is proportional to them). */
  val MixSharePermille: Seq[(String, Long)] = Seq("src0" -> 150L, "src1" -> 120L, "src2" -> 80L)
  val MixShareDefault = 35L

  /** Rebalance the corpus to a TARGET SOURCE MIXTURE (the Pile/LLaMA-style
    * reweighting step): per-source token totals set a feasible corpus
    * budget B = minₛ ⌊tokensₛ·1000/shareₛ⌋ (the binding source is kept in
    * full), every other source downsamples to keepₛ = ⌊B·shareₛ/tokensₛ⌋
    * permille via t6's deterministic md5 predicate, and kept rows carry
    * the inverse-rate weight. All budget arithmetic is 64-bit integer
    * (exact, engine-portable; overflows only past ~9e15 corpus tokens —
    * two orders beyond 100 TB of text).
    *
    * Scale shape: one narrow hash agg to the source-count-sized totals
    * table, a 1-row min for the budget, and a broadcast join back — the
    * corpus itself never shuffles; the keep predicate is map-side. The
    * same deterministic-hash argument as t6: reruns, retries and
    * repartitionings keep the identical sample. */
  val t12MixRebalance: Q = (spark, dir) => {
    val share = MixSharePermille.foldLeft(lit(MixShareDefault)) {
      case (e, (s, r)) => when(col("source") === s, lit(r)).otherwise(e)
    }
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        ceil(col("n_chars") / 4.0).cast(LongType).as("est_tokens"))
    val bySrc = docs.groupBy(col("source")).agg(sum(col("est_tokens")).as("src_tokens"))
      .withColumn("share_pm", share)
    val budget = bySrc.agg(min(expr("src_tokens * 1000 div share_pm")).as("budget"))
    val rates = bySrc.crossJoin(broadcast(budget))
      .withColumn("keep_pm", least(lit(1000L), expr("budget * share_pm div src_tokens")))
      .select(col("source"), col("keep_pm"))
    docs.join(broadcast(rates), "source")
      // stage-salted hash: independent of t6's unsalted sample predicate,
      // so composing the two stages (CorpusPrep) keeps each stage's rate
      // honest — the same hash would collapse two filters to min(rate)
      .withColumn("h",
        expr("cast(conv(substring(md5(concat('mix:', cast(doc_id as string))),1,15),16,10) as bigint)"))
      .filter(pmod(col("h"), lit(1000)) < col("keep_pm"))
      // inverse-rate weight in exact integer parts-per-million
      // (weight = 1000/keep_pm ⇒ weight_ppm = 1e9 div keep_pm): keeps the
      // hashed surface free of engine float-rounding policy (the t23
      // driver-flip class; see the round-8 fixed-point sweep).
      .select(col("doc_id"), col("source"), col("est_tokens"), col("keep_pm"),
        expr("1000000000 div keep_pm").as("weight_ppm"))
      .orderBy(col("doc_id"))
  }

  // ---- T30: epoch plan — the repetition schedule a training run executes ---

  /** Global token budget apportioned by [[t30EpochPlan]] (constant, so
    * the driver tiers exercise BOTH regimes: budgets above a small
    * corpus ⇒ multi-epoch repetition, below a big one ⇒ fractional
    * sub-epoch selection). */
  val T30BudgetTokens = 2000000L

  /** The EPOCH PLAN — the step after mixture design (t12/t23) that every
    * pretraining run actually executes: given target source shares and a
    * global token budget, decide HOW MANY TIMES each document appears in
    * the training mix (multi-epoching low-resource sources is standard —
    * up-weighted sources repeat, down-weighted ones contribute a
    * subset). Three exact-integer stages:
    *
    *  1. HAMILTON APPORTIONMENT of the budget across sources: quota
    *     qₛ = B·shareₛ / Σshare; every source gets ⌊qₛ⌋ and the
    *     remainder seats go to the largest fractional parts
    *     (B·shareₛ mod Σshare, ties by source name) — Σ budgetₛ = B
    *     EXACTLY, the largest-remainder method's defining property.
    *  2. whole epochs: fullₛ = budgetₛ div tokensₛ (0 when the source
    *     exceeds its budget), leaving remₛ = budgetₛ mod tokensₛ.
    *  3. the fractional epoch: docs ordered by a 't30:'-salted md5 hash
    *     (deterministic, rerun/partitioning-proof — t6's argument) take
    *     one extra repeat while their running token cumsum stays within
    *     remₛ — so Σ repeats·tok lands within one document of budgetₛ
    *     (spec-pinned).
    *
    * Everything is 64-bit integer arithmetic on both engines; no float
    * touches the hashed surface. Scale shape: one map-side-combined
    * per-source totals agg, the apportionment on the sources-sized frame
    * (broadcast back), ONE window cumsum per source (the only shuffle —
    * at 100 TB a range-partitioned sort by (source, hash)), map-side
    * repeats. The output is the (doc, repeats) table a data loader
    * consumes directly. */
  /** The [[t30EpochPlan]] body over an arbitrary `(g, doc_id, tok)` frame
    * — ONE planner shared by the one-shot gate and [[t30ReplanRun]]'s
    * per-batch recompute (no drift). Returns the full plan surface,
    * unordered; the input is checkpointed internally (it feeds the
    * totals aggregate AND the cumsum). */
  private[graft] def t30PlanFor(docs0: DataFrame): DataFrame = {
    val share = MixSharePermille.foldLeft(lit(MixShareDefault)) {
      case (e, (s, r)) => when(col("g") === s, lit(r)).otherwise(e)
    }
    val docs = docs0.localCheckpoint() // feeds the totals AND the cumsum
    val bySrc = docs.groupBy(col("g"))
      .agg(sum(col("tok")).as("src_tok"))
      .withColumn("share", share)
    val tot = bySrc.agg(sum(col("share")).as("s"))
    val q = bySrc.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"$T30BudgetTokens * share div s"))
      .withColumn("rem", expr(s"$T30BudgetTokens * share % s"))
    val sb = q.agg(sum(col("base")).as("sb"))
    val budget = q.crossJoin(broadcast(sb))
      .withColumn("rr", row_number().over(Window.orderBy(col("rem").desc, col("g"))))
      .withColumn("budget",
        col("base") + when(col("rr") <= lit(T30BudgetTokens) - col("sb"), 1L).otherwise(0L))
      .select(col("g"), col("src_tok"), col("budget"),
        expr("budget div src_tok").as("full_epochs"),
        expr("budget % src_tok").as("remt"))
    val cum = docs
      .withColumn("hh", expr(
        "cast(conv(substring(md5(concat('t30:', cast(doc_id as string))),1,15),16,10) as bigint)"))
      .withColumn("cum", sum(col("tok")).over(
        Window.partitionBy(col("g")).orderBy(col("hh"), col("doc_id"))))
    cum.join(broadcast(budget), "g")
      .withColumn("extra", when(col("cum") <= col("remt"), 1L).otherwise(0L))
      .select(col("g").as("source"), col("doc_id"), col("tok").as("n_tokens"),
        col("full_epochs"), col("extra"),
        (col("full_epochs") + col("extra")).as("repeats"),
        col("budget").as("src_budget_tokens"))
  }

  val t30EpochPlan: Q = (spark, dir) =>
    t30PlanFor(fanOut(spark, t(spark, dir, "documents"))
        .select(col("source").as("g"), col("doc_id"),
          expr("(n_chars + 3) div 4").as("tok")))
      .orderBy(col("source"), col("doc_id"))

  // ---- T30B: epoch RE-planning through the store (non-monotone arrival) ----

  /** Arrival batches [[t30bEpochReplan]] replays (doc_id-ordered). */
  val T30bBatches = 3

  /** The t30b state machine, exposed for the spec: replays `docs0`
    * (g, doc_id, tok) as `batches` doc_id-ordered slices through the
    * snapshot store under `root` — per batch the doc rows merge keyed
    * (with a redelivered overlap of already-stored docs: v15's
    * at-least-once discipline), the WHOLE apportionment recomputes over
    * the stored corpus ([[t30PlanFor]] — the planner is shared, no
    * drift), and ONLY the docs whose plan row changed rewrite (NULL-safe
    * column diff against the stored plan, then a keyed merge). The
    * served plan comes from the persisted table alone.
    *
    * This is the non-monotone class on the PLANNING side (d17/g2b's
    * hazard): a new arrival batch changes every source's token total —
    * and a batch introducing a NEW source changes Σshare, hence every
    * source's Hamilton quota AND the remainder-seat order (a seat can
    * FLIP between sources; the spec plants exactly that) — so rows the
    * store already holds must be rewritten, which no append-only
    * pipeline can express.
    *
    * Scale shape: per batch, one map-side-combined totals agg + the
    * sources-sized apportionment + one window cumsum (t30's only
    * shuffle) + a doc-keyed diff join; the REWRITE is |changed rows|,
    * not |corpus| — in steady state (no seat flips, stable full-epoch
    * counts) a batch rewrites only its own docs plus the fractional-
    * boundary band of each source. */
  private[graft] def t30ReplanRun(spark: SparkSession, docs0: DataFrame,
                                  root: String, batches: Int): DataFrame = {
    import graft.incremental.SnapshotStore
    val docs = docs0.localCheckpoint() // feeds every batch slice
    val maxIdRow = docs.agg(max(col("doc_id"))).head
    if (maxIdRow.isNullAt(0)) return t30PlanFor(docs) // empty corpus, empty plan
    val maxId = maxIdRow.getLong(0)
    def inBatch(b: Int): Column =
      expr(s"least(${batches - 1}, doc_id * $batches div ${maxId + 1})") === b
    (0 until batches).foreach { b =>
      val batch = docs.filter(inBatch(b)).localCheckpoint()
      val stateDocs = SnapshotStore.read(spark, s"$root/docs")
      val redelivered = stateDocs.map(sd =>
        batch.unionByName(sd.filter(pmod(col("doc_id"), lit(53)) === 0)))
        .getOrElse(batch)
      SnapshotStore.merge(spark, s"$root/docs", redelivered, Seq("doc_id"))
      val stored = SnapshotStore.read(spark, s"$root/docs").get
      val newPlan = t30PlanFor(stored.select(col("g"), col("doc_id"), col("tok")))
        .localCheckpoint() // feeds the changed-row diff AND the merge
      val changed = SnapshotStore.read(spark, s"$root/plan") match {
        case None => newPlan
        case Some(op) =>
          val old = op.select(col("doc_id").as("o_id"),
            col("full_epochs").as("o_f"), col("extra").as("o_e"),
            col("src_budget_tokens").as("o_b"))
          // n_tokens/source are immutable per doc; repeats is derived —
          // the three merged columns below are the full mutable surface
          newPlan.join(old, newPlan("doc_id") === old("o_id"), "left")
            .filter(col("o_id").isNull ||
              !(col("full_epochs") <=> col("o_f") &&
                col("extra") <=> col("o_e") &&
                col("src_budget_tokens") <=> col("o_b")))
            .select(newPlan.columns.map(col): _*)
      }
      SnapshotStore.merge(spark, s"$root/plan", changed, Seq("doc_id"))
    }
    SnapshotStore.read(spark, s"$root/plan").get
  }

  /** T30B: [[t30EpochPlan]] maintained INCREMENTALLY — the epoch plan a
    * growing corpus forces you to keep re-issuing, served from the store
    * and graded by the ONE-SHOT t30 oracle over the union corpus:
    * arrival order, redelivery and the changed-row rewrite discipline
    * must all be invisible in the final plan table. */
  val t30bEpochReplan: Q = (spark, dir) => {
    val root = java.nio.file.Files.createTempDirectory("graft-t30b").toString
    try {
      val docs = fanOut(spark, t(spark, dir, "documents"))
        .select(col("source").as("g"), col("doc_id"),
          expr("(n_chars + 3) div 4").as("tok"))
      t30ReplanRun(spark, docs, root, T30bBatches)
        .localCheckpoint() // materialized before the temp store dies
        .orderBy(col("source"), col("doc_id"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- T31: the epoch SHUFFLE (deterministic data-loader order) ------------

  /** t31's hash-position block width: positions are 60-bit md5 prefixes
    * (t30's salt discipline), so `pos div 2^50` yields 1024 contiguous
    * hash ranges — uniformly filled by construction, the block axis of
    * the two-level cumsum. */
  val T31PosBlock = 1L << 50

  /** T31: the epoch SHUFFLE — the deterministic global training order a
    * data loader executes. t30 decides HOW MANY times each document is
    * seen; t31 decides WHEN: every (doc, epoch) instance of t30's repeat
    * plan gets a salted 60-bit hash position (independent per epoch, so
    * a doc's repeats scatter across the run rather than clumping — the
    * "shuffle each epoch globally" convention), and the instance stream
    * is packed in position order into ~[[ShardBudget]]-token shards by
    * exclusive-prefix-sum (t7's rule: an instance lands in the shard its
    * first token falls in). Emits (source, doc_id, epoch, n_tokens, pos,
    * cum_tokens, shard_id) — the order file a loader replays verbatim;
    * re-runs are byte-identical, and a resumed run seeks to a shard
    * boundary without recomputing anything upstream.
    *
    * Scale shape: the instance explode is bounded by Σrepeats — the
    * output's own size (t30 caps it at the token budget ÷ min doc size);
    * the only corpus-sized movement is ONE shuffle into 1024 contiguous
    * hash ranges for the two-level cumsum ([[distributedCumsum]] with
    * hash-range blocks — the block-sum table is 1024 rows, broadcast
    * back), and hash uniformity balances the ranges under ANY corpus
    * skew. No window ever sees more than one block's rows; the result
    * is defined by the (pos, doc_id, epoch) total order alone, so it is
    * identical for any partition count (T17's invariance argument). */
  val t31EpochShuffle: Q = (spark, dir) =>
    epochShuffleFor(t30PlanFor(fanOut(spark, t(spark, dir, "documents"))
      .select(col("source").as("g"), col("doc_id"),
        expr("(n_chars + 3) div 4").as("tok"))))

  /** t31's instance explode + salted order + shard pack over any t30-shaped
    * plan frame — shared by t31 (full corpus) and pipe7 (gated survivors). */
  private[graft] def epochShuffleFor(plan: DataFrame): DataFrame = {
    val inst = plan.filter(col("repeats") >= 1)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0L), col("repeats") - 1)).as("epoch"))
      .withColumn("pos", expr(
        "cast(conv(substring(md5(concat('t31:', cast(doc_id as string), " +
          "':', cast(epoch as string))),1,15),16,10) as bigint)"))
    distributedCumsum(inst, "n_tokens",
        Seq(col("pos"), col("doc_id"), col("epoch")),
        blkExpr = s"pos div $T31PosBlock")
      .select(col("source"), col("doc_id"), col("epoch"), col("n_tokens"),
        col("pos"), col("cum_tokens"),
        expr(s"(cum_tokens - n_tokens) div $ShardBudget").as("shard_id"))
      .orderBy(col("pos"), col("doc_id"), col("epoch"))
  }

  // ---- T23: temperature-based mixture resampling ---------------------------

  /** mT5/XLM-R-style temperature sampling (τ = 1/2): source sampling
    * rates ∝ n_i^τ instead of n_i, upweighting low-resource sources
    * relative to proportional sampling — THE multilingual/domain mixing
    * move t12's explicit-share rebalance cannot express (its targets are
    * declared; temperature targets FOLLOW from the measured sizes).
    * Exact integer arithmetic throughout: n_i^½ = floor(sqrt(n_i)) (IEEE
    * sqrt of an exact integer < 2^52 is correctly rounded, so the floor
    * is engine-identical), budget = half the corpus tokens, per-source
    * allocation and per-mille keep rates by integer division, membership
    * by the stage-salted deterministic md5 predicate (t6/t12's). One
    * corpus pass for the source totals (map-side combined); everything
    * after is |sources|-sized and broadcasts. */
  val t23TemperatureMix: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        ceil(col("n_chars") / 4.0).cast(LongType).as("est_tokens"))
    val bySrc = docs.groupBy(col("source"))
      .agg(sum(col("est_tokens")).as("src_tokens"))
      .withColumn("rw", floor(sqrt(col("src_tokens"))).cast(LongType))
    val tot = bySrc.agg((sum(col("src_tokens")) / 2).cast(LongType).as("budget"),
      sum(col("rw")).as("rsum"))
    val rates = bySrc.crossJoin(broadcast(tot))
      .withColumn("keep_pm", least(lit(1000L),
        expr("(budget * rw div rsum) * 1000 div src_tokens")))
      .select(col("source"), col("keep_pm"))
    docs.join(broadcast(rates), "source")
      .withColumn("h",
        expr("cast(conv(substring(md5(concat('temp:', cast(doc_id as string))),1,15),16,10) as bigint)"))
      .filter(pmod(col("h"), lit(1000)) < col("keep_pm"))
      // exact integer ppm weight — same discipline as t12 (no float
      // division + round on the hashed surface, the class the round-7
      // driver red exposed).
      .select(col("doc_id"), col("source"), col("est_tokens"), col("keep_pm"),
        expr("1000000000 div keep_pm").as("weight_ppm"))
      .orderBy(col("doc_id"))
  }

  // ---- T7: token-budget shard packing (distributed prefix sum) -------------

  /** Token budget per training shard. */
  val ShardBudget = 4096L
  /** doc_ids per prefix-sum block (tuned tiny for the fixtures; ~1e6 at
    * production scale so the block-totals table stays metadata-sized). */
  val PackBlock = 128L

  /** DISTRIBUTED two-level running sum of `tokenCol` over `orderCols`
    * (which must sort consistently with doc_id blocks — i.e. lead with
    * doc_id): the naive `sum() over (order by …)` is a single-partition
    * window that serializes the whole corpus through one task. Instead:
    * (1) per-block token subtotals (hash agg, parallel); (2) exclusive
    * block offsets via a window over the block-totals table, which is
    * corpus/[[PackBlock]] rows — metadata-sized, and recursively
    * blockable if it ever isn't; (3) broadcast the offsets back and
    * window only WITHIN each block (partitionBy block — parallel,
    * bounded memory). Identical to the global window (oracle-verified in
    * t7/pipe; property-tested over sparse ids). Adds `cum_tokens`.
    *
    * The input is checkpointed because it feeds TWO subtrees (the offsets
    * aggregate and the row-level join): left lazy, Spark would execute the
    * whole upstream twice — for the composed pipeline that would mean
    * re-running dedup and decontamination end to end. */
  def distributedCumsum(df: DataFrame, tokenCol: String,
                        orderCols: Seq[org.apache.spark.sql.Column],
                        blkExpr: String = s"doc_id div $PackBlock"): DataFrame = {
    // `blkExpr` must COARSEN the leading order column (equal-order rows
    // share a block, blocks ascend with the order), so block-major +
    // within-block order is the caller's total order. Default: t7/t26's
    // contiguous doc_id ranges; t31 passes uniform hash-position ranges.
    val blocked = df.withColumn("blk", expr(blkExpr))
      .localCheckpoint() // GC-released when the result goes out of scope (see d2)
    val offsets = blocked.groupBy(col("blk")).agg(sum(col(tokenCol)).as("bt"))
      .withColumn("off", coalesce(sum(col("bt")).over(
        Window.orderBy(col("blk")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("blk"), col("off"))
    val inBlock = Window.partitionBy(col("blk")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    blocked.join(broadcast(offsets), "blk")
      .withColumn("cum_tokens", col("off") + sum(col(tokenCol)).over(inBlock))
      .drop("blk", "off")
  }

  /** Assign documents (in doc_id order) to training shards of
    * ~[[ShardBudget]] estimated tokens: shard = ⌊exclusive-prefix-sum /
    * budget⌋, so a document lands in the shard its first token falls in
    * and documents are never split. The running total is
    * [[distributedCumsum]]. */
  val t7PackShards: Q = (spark, dir) => {
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), ceil(col("n_chars") / 4.0).cast(LongType).as("est_tokens"))
    distributedCumsum(d, "est_tokens", Seq(col("doc_id")))
      .select(col("doc_id"), col("est_tokens"), col("cum_tokens"),
        expr(s"(cum_tokens - est_tokens) div $ShardBudget").as("shard_id"))
      .orderBy(col("doc_id"))
  }

  // ---- T26: fixed-context sequence packing ---------------------------------

  /** Fixed context length (estimated tokens) of one training sequence. */
  val SeqLen = 512L

  /** Sequence packing — the layout step GPT-style pretraining actually
    * runs (t7 assigns whole docs to ~budget SHARDS; t26 packs the token
    * stream into FIXED-length contexts, splitting documents across
    * context boundaries so no context carries padding): in doc_id order,
    * doc d occupies global token interval [cum − n, cum), and every
    * [[SeqLen]]-aligned context it overlaps gets a span row
    * (seq_id, doc_id, doc_from, doc_to, pos_from, n_toks) — enough to
    * materialize the packed batch AND its attention-mask document
    * boundaries. Deterministic in doc_id order, so re-runs produce
    * byte-identical packing.
    *
    * Scale shape: the running total is [[distributedCumsum]] (two-level,
    * range-partitioned — never a single-partition window); the span
    * explode is bounded by ⌈n/[[SeqLen]]⌉ + 1 rows per doc (stream
    * volume ÷ context length, the output's own size); everything after
    * the cumsum is map-only arithmetic in the scan stage. All columns
    * integer — the packing sits on the hashed surface exactly. */
  val t26SequencePack: Q = (spark, dir) =>
    packSequences(t(spark, dir, "documents")
      .select(col("doc_id"), ceil(col("n_chars") / 4.0).cast(LongType).as("est_tokens")))

  /** t26's packing over any (doc_id, est_tokens) frame — shared with
    * pipe6, which packs the d16-CUT corpus's surviving token counts. */
  private[queries] def packSequences(d: DataFrame): DataFrame =
    distributedCumsum(d.filter(col("est_tokens") >= 1), "est_tokens", Seq(col("doc_id")))
      .withColumn("strt", col("cum_tokens") - col("est_tokens"))
      .select(col("doc_id"), col("strt"), col("cum_tokens"),
        explode(sequence(expr(s"strt div $SeqLen"),
          expr(s"(cum_tokens - 1) div $SeqLen"))).as("seq_id"))
      .withColumn("doc_from",
        greatest(col("strt"), col("seq_id") * SeqLen) - col("strt"))
      .withColumn("doc_to",
        least(col("cum_tokens"), (col("seq_id") + 1) * SeqLen) - col("strt"))
      .withColumn("pos_from",
        greatest(col("strt"), col("seq_id") * SeqLen) - col("seq_id") * SeqLen)
      .select(col("seq_id"), col("doc_id"), col("doc_from"), col("doc_to"),
        col("pos_from"), (col("doc_to") - col("doc_from")).as("n_toks"))
      .orderBy(col("seq_id"), col("pos_from"))

  // ---- T13: PII detection + redaction --------------------------------------

  /** Escape-free regexes (no `\b`/`\.`) so the identical pattern string is
    * valid and equivalent in both Java regex (Spark) and RE2 (DuckDB). */
  val PiiEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
  val PiiPhone = "[0-9]{3}-[0-9]{4}"
  val PiiIp = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

  /** PII detection + redaction (the scrubbing pass every public-web corpus
    * runs before training). The synthetic corpus carries no PII, so the
    * query PLANTS a deterministic contact footer per document (email,
    * phone, IPv4 derived from doc_id) and then detects and redacts it —
    * the operator under test is the regex machinery, which is what runs at
    * 100 TB: per-doc match counts via `regexp_extract_all` and
    * chained-`regexp_replace` masking, all map-only inside the scan stage
    * (no shuffle, nothing but the counts and a digest of the redacted text
    * leave the plan). Patterns are shared literals with the oracle; both
    * engines use leftmost-first greedy matching, so counts and redacted
    * bytes agree exactly. */
  val t13PiiRedact: Q = (spark, dir) => {
    val full = concat(col("text"),
      lit(" contact user"), col("doc_id").cast(StringType),
      lit("@mail"), pmod(col("doc_id"), lit(7)).cast(StringType),
      lit(".org call 555-"),
      lpad(pmod(col("doc_id") * 7919, lit(10000)).cast(StringType), 4, "0"),
      lit(" from 10."), pmod(col("doc_id"), lit(256)).cast(StringType),
      lit("."), pmod(col("doc_id") * 31, lit(256)).cast(StringType),
      lit("."), pmod(col("doc_id") * 17, lit(256)).cast(StringType))
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("full"), lit(PiiEmail), lit("<EMAIL>")),
        lit(PiiIp), lit("<IP>")),
      lit(PiiPhone), lit("<PHONE>"))
    t(spark, dir, "documents")
      .withColumn("full", full)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("full"), lit(PiiEmail), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("full"), lit(PiiPhone), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("full"), lit(PiiIp), lit(0))).as("n_ips"),
        md5(redacted).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  // ---- T14: vocabulary construction / heavy hitters ------------------------

  /** Tokens kept in the vocabulary head. */
  val VocabK = 100

  /** Exact corpus-level heavy hitters: the top-[[VocabK]] tokens by total
    * frequency with their document frequency — the first step of building
    * a tokenizer vocabulary or a stopword list.
    *
    * Scale shape: explode → two-level hash agg ((term, doc) then term),
    * both map-side combined, so the shuffle carries one row per distinct
    * (term, doc) and then one per vocabulary term. The global top-K goes
    * through `orderBy().limit()` — Spark plans TakeOrderedAndProject
    * (per-partition heaps + driver-side K-merge), NOT a single-partition
    * sort, so it survives an arbitrary vocabulary size. The rank column is
    * windowed over the already-collapsed K-row result (metadata-sized by
    * construction). */
  val t14Vocab: Q = (spark, dir) => {
    val tok = fanOut(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
    val top = tok
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("term")).agg(sum(col("c")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("term")).limit(VocabK)
    top
      .withColumn("rk", row_number().over(Window.orderBy(col("tf").desc, col("term"))))
      .select(col("rk"), col("term"), col("tf"), col("df"))
      .orderBy(col("rk"))
  }

  // ---- T18: BPE merge-pair statistics (tokenizer induction, 1st iteration) -

  /** Candidate merge pairs kept in the head. */
  val BpeK = 50

  /** The first iteration of byte-pair-encoding tokenizer training
    * (Sennrich et al. 2016, arXiv:1508.07909): adjacent CHARACTER-pair
    * frequencies over the corpus, computed the way real BPE trainers do —
    * against the word HISTOGRAM, not the token stream. `pf` is the
    * corpus-wide pair frequency (Σ over word types of word_freq ×
    * occurrences-in-word — the argmax of this column IS the first BPE
    * merge), `n_types` the distinct word shapes carrying the pair.
    *
    * Scale shape: this is why BPE training is tractable at 100 TB — the
    * only corpus-sized pass is the map-side-combined word count; the
    * character-pair explode runs over the DISTINCT-WORD table (Zipf-
    * bounded vocabulary, orders of magnitude smaller than the corpus)
    * with frequencies carried as weights. The global top-K is
    * TakeOrderedAndProject (per-partition heaps), never a 1-partition
    * sort, and the rank window sees only K rows (t14's pattern). */
  val t18BpePairs: Q = (spark, dir) => {
    val wf = fanOut(spark, t(spark, dir, "documents"))
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val top = wf
      .filter(length(col("term")) >= 2)
      .select(col("term"), col("freq"), explode(expr(
        "transform(sequence(1, length(term) - 1)," +
          " i -> struct(substring(term, i, 1) as a, substring(term, i + 1, 1) as b))")).as("p"))
      .groupBy(col("p.a").as("c1"), col("p.b").as("c2"))
      .agg(sum(col("freq")).as("pf"), countDistinct(col("term")).as("n_types"))
      .orderBy(col("pf").desc, col("c1"), col("c2")).limit(BpeK)
    top
      .withColumn("rk", row_number().over(Window.orderBy(col("pf").desc, col("c1"), col("c2"))))
      .select(col("rk"), col("c1"), col("c2"), col("pf"), col("n_types"))
      .orderBy(col("rk"))
  }

  // ---- T27: iterated BPE merge loop (tokenizer training) -------------------

  /** Merge iterations run by [[t27BpeTrain]] — fixed so the DuckDB oracle
    * unrolls the loop (v25's discipline). */
  val T27Iters = 6

  /** T27: the actual BPE TRAINING LOOP t18 stops short of (Sennrich et
    * al. 2016, arXiv:1508.07909 §3.2): [[T27Iters]] iterations of
    * count-adjacent-pairs → pick the most frequent pair (ties to the
    * lexicographically smallest) → merge it greedily left-to-right in
    * every word → recount. Each iteration emits its chosen merge with
    * its pair frequency and the distinct word shapes carrying it — the
    * rows a tokenizer's `merges.txt` is built from.
    *
    * The merge step is pure string algebra, no per-row loop: a word's
    * token sequence is encoded as `⟨S⟩tok⟨E⟩…` with start/end marker
    * control chars, so "merge pair (a, b)" IS
    * `replace(seq, SaE+SbE, SabE)` — both engines' `replace` substitutes
    * non-overlapping occurrences left-to-right, which is exactly BPE's
    * greedy merge order, and the two-sided markers make a token match
    * complete tokens only (no prefix/suffix false hits). A loud guard
    * rejects any corpus containing the marker chars or characters the
    * `(.)` tokenizer regex cannot mark (m6/m7's surrogate-require
    * discipline).
    *
    * Scale shape: t18's — the only corpus-sized pass is the map-side-
    * combined word count; every iteration runs over the DISTINCT-WORD
    * histogram (Zipf-bounded vocabulary) with frequencies as weights,
    * re-checkpointed per iteration so step k never replays step k−1.
    * The per-iteration argmax is one TakeOrderedAndProject row — the
    * sanctioned metadata pull (a training loop's parameter broadcast). */
  /** The [[T27Iters]]-round BPE training loop (t27's body): returns the
    * per-iteration 1-row report frames AND the final `(term, seq, freq)`
    * word-encoding table with ALL merges applied. Shared by t27 (the
    * training report) and t28 (encoding the corpus with the trained
    * merges) -- one training, no drift. */
  private[queries] def bpeTrainLoop(spark: SparkSession, dir: String,
                                     iters: Int = T27Iters)
      : (Seq[DataFrame], DataFrame) = {
    val S = "\u0001"; val E = "\u0002" // start/end token markers
    val terms = fanOut(spark, t(spark, dir, "documents"))
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .localCheckpoint() // one corpus pass; guard + seq build read it
    // completeness guard: the marker encoding requires (a) the markers
    // absent from the corpus and (b) every char markable by '(.)' (which
    // skips line terminators in BOTH engines' regex dialects)
    require(terms.filter(col("term")
        .rlike("[\\x01\\x02\\n\\r\\u0085\\u2028\\u2029]")).isEmpty,
      "t27: corpus contains marker or line-terminator chars — the BPE " +
        "token encoding would be ambiguous")
    // fanOut first (r15 opt): the vocab histogram agg AQE-coalesces to one
    // partition, so every round's pair-explode argmax (string transforms
    // over the whole vocabulary) would otherwise run in ONE task
    var cur = fanOut(spark, terms)
      .withColumn("seq", regexp_replace(col("term"), "(.)", S + "$1" + E))
      .select(col("term"), col("seq"), col("freq"))
      .localCheckpoint()
    import spark.implicits._
    val reports = (1 to iters).map { it =>
      // r14 opt: ONE action per round for the argmax (head on the
      // TakeOrderedAndProject) and the report row rebuilt as a literal
      // frame from the collected values — the old shape checkpointed the
      // 1-row argmax (a full extra job per round) only to re-scan it for
      // the report. 1 row of driver data, same values, one fewer job and
      // one fewer checkpoint per round.
      val row = cur
        .withColumn("toks", transform(
          filter(split(col("seq"), S), x => x =!= ""),
          x => x.substr(lit(1), length(x) - 1))) // strip the trailing ⟨E⟩
        .filter(size(col("toks")) >= 2)
        .select(col("term"), col("freq"), explode(expr(
          "transform(sequence(1, size(toks) - 1)," +
            " i -> struct(element_at(toks, i) as c1, element_at(toks, i + 1) as c2))")).as("p"))
        .groupBy(col("p.c1").as("c1"), col("p.c2").as("c2"))
        // r15 opt (§2.3 shuffle fewer bytes): n_types counts the distinct
        // WORDS containing the pair. seq ↦ term is injective (stripping
        // the markers and concatenating the tokens reproduces the term),
        // so countDistinct(term) ≡ countDistinct(seq) — and term is ~3×
        // narrower than the marker-framed seq the distinct-agg expansion
        // used to shuffle
        .agg(sum(col("freq")).as("pf"), countDistinct(col("term")).as("n_types"))
        .orderBy(col("pf").desc, col("c1"), col("c2")).limit(1)
        .head
      val (c1, c2) = (row.getString(0), row.getString(1))
      cur = cur
        .withColumn("seq", replace(col("seq"),
          lit(S + c1 + E + S + c2 + E), lit(S + c1 + c2 + E)))
        .localCheckpoint() // step k+1 never replays step k's merge
      Seq((it.toLong, c1, c2, row.getLong(2), row.getLong(3)))
        .toDF("iter", "c1", "c2", "pf", "n_types")
    }
    (reports, cur)
  }

  val t27BpeTrain: Q = (spark, dir) =>
    bpeTrainLoop(spark, dir)._1.reduce(_ unionByName _).orderBy(col("iter"))

  // ---- T27B: BPE trained to a VOCAB-SIZE target -----------------------------

  /** t27b's merge-count target. Every round eliminates its chosen pair's
    * adjacency (the merged token replaces it), so rounds pick DISTINCT
    * pairs and |merges| = rounds exactly — "train until the vocabulary
    * gains N merges" IS "run N rounds", a data-independent bound the
    * DuckDB oracle unrolls declaratively (v25's discipline; a
    * data-DEPENDENT stop would put control flow on a surface the oracle
    * cannot replay). */
  val T27bMerges = 12

  /** T27B: t27's training loop run to a VOCABULARY TARGET — the shape a
    * real tokenizer build has (train until |merges| = N, e.g. 32k), not
    * a fixed 6-round demo: [[T27bMerges]] rounds of count → argmax →
    * greedy marker-anchored merge, emitting the full merges.txt. Cost
    * stays flat per round BY CONSTRUCTION: every round runs over the
    * SAME distinct-word histogram (Zipf-bounded vocabulary, frequencies
    * as weights — the corpus is scanned once, before round 1) and
    * re-checkpoints, so round k never replays rounds 1..k−1; the
    * per-round argmax is one TakeOrderedAndProject row. The spec pins
    * distinctness of the chosen pairs (the |merges| = rounds argument)
    * and the histogram-width invariance across rounds. */
  val t27bBpeVocabTarget: Q = (spark, dir) =>
    bpeTrainLoop(spark, dir, T27bMerges)._1
      .reduce(_ unionByName _).orderBy(col("iter"))

  /** T28: ENCODE the corpus with t27's trained merges — the apply half
    * of the tokenizer loop (v21's train→serve closure, for text): the
    * final word→token-sequence table from [[bpeTrainLoop]] (ALL
    * [[T27Iters]] merges applied) is the vocabulary-sized encode
    * dictionary a deployed tokenizer ships, and every document's
    * BPE-token count is one broadcast join of its word counts against
    * it. Emits per doc `(n_words, n_chars, n_tokens)` — n_tokens is
    * what a context-length budget, a packing plan (t26) or a per-token
    * price is computed from, and n_chars/n_tokens is the compression
    * the merges bought.
    *
    * Scale shape: the only corpus-sized pass is the (doc, term) count
    * (map-side combined); the encode dictionary is Zipf-bounded
    * vocabulary, so the join broadcasts — the corpus never shuffles on
    * anything wider than the (doc_id, term) agg keys. The oracle chains
    * t27's training CTEs into the encode join, so a drifting merge
    * ANYWHERE in training shifts token counts and reds the hash. */
  val t28BpeEncode: Q = (spark, dir) => {
    val S = "\u0001"
    val (_, vocab) = bpeTrainLoop(spark, dir)
    val enc = vocab.select(col("term"),
      size(filter(split(col("seq"), S), x => x =!= "")).as("toks_per_word"),
      length(col("term")).as("chars_per_word"))
    fanOut(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .join(broadcast(enc), "term")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("chars_per_word")).as("n_chars"),
        sum(col("c") * col("toks_per_word")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  // ---- T15: unigram-LM quality score ---------------------------------------

  /** Per-document cross-entropy against the corpus's own unigram
    * distribution (the cheap stand-in for the KenLM-perplexity quality
    * filter of CCNet/Gopher): score = Σ tf_doc(t)·ln(N/tf_corpus(t)) / len.
    * Rare-token-heavy documents score high (surprising), templated ones
    * low.
    *
    * Two passes over the token stream, both narrow: the corpus frequency
    * table is VOCABULARY-sized, so it broadcasts back to the per-doc term
    * counts (no corpus-sized shuffle beyond the (term, doc) agg the other
    * text ops already pay). The 1-row token total rides the same
    * broadcast. ln() is the one transcendental on the oracle surface —
    * both engines compute it on the identical double (N and tf are exact
    * longs), and the final 6-dp round absorbs the ≤1-ulp libm skew. */
  /** t15 body over an arbitrary documents frame (shared with pipe2 — the
    * unigram distribution is computed over exactly the frame given, so a
    * filtered corpus scores against its own retained distribution). */
  private[queries] def lmScores(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds the corpus-frequency agg AND the score join
    val corpus = tf.groupBy(col("term")).agg(sum(col("c")).as("ctf"))
    val total = corpus.agg(sum(col("ctf")).as("tot"))
    tf.join(broadcast(corpus), "term")
      .crossJoin(broadcast(total))
      .withColumn("nll",
        col("c") * log(col("tot").cast(DoubleType) / col("ctf").cast(DoubleType)))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), sum(col("nll")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        // explicit floor-scale (NOT engine round): both engines floor the
        // identically-computed double, so no rounding-policy divergence
        // sits on the hashed surface; the ≤1-ulp libm ln() skew remains
        // the only (pre-existing, value-distance-monitored) residual
        e6(col("s") / col("n_tokens")).as("lm_xent_e6"))
  }

  val t15LmScore: Q = (spark, dir) =>
    lmScores(fanOut(spark, t(spark, dir, "documents"))).orderBy(col("doc_id"))

  // ---- T22: held-out bigram LM scoring (Stupid Backoff) --------------------

  /** Backoff weight 0.4 as the exact rational 2/5. */
  val T22BackNum = 2L
  val T22BackDen = 5L

  /** Held-out bigram language-model scoring with Stupid Backoff (Brants
    * et al. 2007, "Large Language Models in Machine Translation" — the
    * web-scale LM that skips normalization for exactly the
    * distributed-counting reasons this engine cares about): the TRAINING
    * slice (`doc_id % DecontMod != 0`) builds bigram and unigram count
    * tables, the EVAL slice is scored token-by-token —
    * `c2(prev,cur)/c1(prev)` when the bigram was seen in training,
    * `0.4 · c1(cur)/N` when not — so backoff genuinely fires (an
    * in-corpus score would always find its own bigrams). Every per-token
    * score is 1e-6 fixed point with non-negative numerators (0.4 enters
    * as ×[[T22BackNum]]/÷[[T22BackDen]]), summed and averaged as exact
    * longs: no float, no log, no engine-order sensitivity.
    *
    * Scale shape: the bigram table is CORPUS-scale (Zipf helps but it
    * does not fit a broadcast at 100 TB), so the score lookup is the
    * deliberate big-big shuffle join on the (prev, cur) key — t10's
    * pattern, uniform gram keys; the unigram table is vocabulary-sized
    * and broadcasts twice (prev and cur lookups); the token total rides a
    * 1-row cross join. Exactly how a sharded distributed LM serves
    * lookups. */
  val t22BigramScore: Q = (spark, dir) => {
    val docs = fanOut(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 2)
    val bi = docs.select(col("doc_id"),
        explode(expr("""transform(sequence(1, size(w) - 1),
          i -> struct(element_at(w, i) as prev, element_at(w, i + 1) as cur))"""))
          .as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.cur").as("cur"))
      .localCheckpoint() // feeds the train counts AND the eval score join
    val trainBi = bi.filter(pmod(col("doc_id"), lit(DecontMod)) =!= 0)
    val c2 = trainBi.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
    val toks = docs.filter(pmod(col("doc_id"), lit(DecontMod)) =!= 0)
      .select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c1"))
      .localCheckpoint() // vocab-sized; joined twice below
    val nTot = toks.agg(sum(col("c1")).as("n_tot"))
    bi.filter(pmod(col("doc_id"), lit(DecontMod)) === 0)
      .join(c2, Seq("prev", "cur"), "left") // the big-big gram-key shuffle
      .join(broadcast(toks.withColumnRenamed("t", "prev")
        .withColumnRenamed("c1", "c1_prev")), Seq("prev"), "left")
      .join(broadcast(toks.withColumnRenamed("t", "cur")
        .withColumnRenamed("c1", "c1_cur")), Seq("cur"), "left")
      .crossJoin(broadcast(nTot))
      .withColumn("s6",
        when(col("c2").isNotNull && col("c1_prev").isNotNull,
          expr("c2 * 1000000L div c1_prev"))
          .otherwise(expr(
            s"($T22BackNum * coalesce(c1_cur, 0L) * 1000000L) div ($T22BackDen * n_tot)")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s6")).as("sum_s6"),
        sum(when(col("c2").isNull, 1L).otherwise(0L)).as("n_backoff"))
      .withColumn("mean_s6", expr("sum_s6 div n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("n_backoff"),
        col("sum_s6"), col("mean_s6"))
      .orderBy(col("doc_id"))
  }

  // ---- T17: perplexity bucketing (CCNet head/middle/tail curation) ---------

  /** The CCNet curation split (Wenzek et al. 2020 §4.3): order the corpus
    * by the t15 LM score and cut it into head/middle/tail at equal
    * TOKEN-MASS terciles — head is the most fluent third of tokens, the
    * slice CCNet keeps for training; tail is what gets dropped or
    * re-filtered.
    *
    * Scale shape: the score pass is t15's (vocabulary-sized broadcast
    * only); the score-ordered token prefix sum runs as a RANGE-PARTITIONED
    * two-level cumsum — per-range subtotals → a partition-count-sized
    * offset table broadcast back → in-partition windows — t7's trick
    * generalized to an arbitrary sort key, so no global single-partition
    * sort ever materializes. The prefix sum is defined by the total order
    * (lm_xent, doc_id), not by where the range boundaries fall, so any
    * partitioning yields the identical result; bucket edges compare in
    * integer arithmetic (3·cum_before vs tot). */
  /** t17 body over an arbitrary scored frame `(doc_id, n_tokens, lm_xent)`
    * (shared with pipe2). `numRanges` sizes the range partitioning only —
    * the result is defined by the (lm_xent, doc_id) total order and must
    * be identical for ANY partition count (T17PartitionInvarianceSpec
    * pins exactly that). */
  private[graft] def pplBuckets(scored: DataFrame, numRanges: Int = 32): DataFrame = {
    val parts = scored
      .repartitionByRange(numRanges, col("lm_xent_e6"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint() // feeds the offsets agg AND the row-level join
    val offsets = parts.groupBy(col("pid")).agg(sum(col("n_tokens")).as("bt"))
      .withColumn("off", coalesce(sum(col("bt")).over(
        Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("off"))
    val tot = parts.agg(sum(col("n_tokens")).as("tot"))
    val w = Window.partitionBy(col("pid")).orderBy(col("lm_xent_e6"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parts.join(broadcast(offsets), "pid")
      .withColumn("cum", col("off") + sum(col("n_tokens")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tokens"), col("lm_xent_e6"),
        when(lit(3) * (col("cum") - col("n_tokens")) < col("tot"), "head")
          .when(lit(3) * (col("cum") - col("n_tokens")) < lit(2) * col("tot"), "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  val t17PplBuckets: Q = (spark, dir) =>
    pplBuckets(lmScores(fanOut(spark, t(spark, dir, "documents"))))
      .orderBy(col("doc_id"))

  // ---- T25: DSIR importance resampling -------------------------------------

  /** Hashed-feature space: every term maps to one of [[DsirBuckets]]
    * buckets, so BOTH language models are fixed-size regardless of corpus
    * scale — the trick that makes DSIR's LM tables broadcastable at
    * 100 TB where a vocabulary table would not be. */
  val DsirBuckets = 512
  /** The target domain whose distribution raw data is scored against. */
  val DsirTargetLang = "de"
  /** Documents selected (sampling without replacement via Gumbel-top-k). */
  val DsirK = 125

  /** Data Selection via Importance Resampling (DSIR — Xie et al. 2023,
    * arXiv:2302.03169): score every raw document by how much more likely
    * a TARGET-domain hashed-unigram LM finds its tokens than the raw-
    * corpus LM, then sample [[DsirK]] documents without replacement with
    * probability ∝ the importance weight — the principled replacement
    * for the t6/t12 heuristics when "what to train on" is defined by an
    * exemplar corpus rather than hand-set rates.
    *
    * Weight: lw(d) = Σ_b n_d(b)·ln(p_t(b)/p_r(b)) over [[DsirBuckets]]
    * md5-hashed term buckets (the d3/t6 engine-portable 60-bit idiom),
    * add-one smoothed. Sampling: Gumbel-top-k (Vieira 2014) — perturb
    * each lw with g = −ln(−ln(u)), u the md5-hash-derived permille of
    * the doc id (deterministic, reproducible across engines/retries,
    * like every sampling stage here), and take the top [[DsirK]] by the
    * perturbed key: exactly sampling-without-replacement ∝ softmax(lw).
    * ln() sits on the hashed surface under t15's contract — both engines
    * evaluate it on identical doubles (counts are exact longs; the
    * smoothed-ratio products stay < 2^53 at test scale) and the 6-dp
    * floor-scale absorbs the ≤1-ulp libm skew; ORDER uses the FLOORED
    * integer key with doc_id tiebreak, so ranking is engine-exact. At
    * 100 TB the ratio factors into per-term ln differences (the products
    * would pass 2^53); same plan, one more ln per bucket.
    *
    * Scale shape: one corpus-sized shuffle (the (doc, lang, bucket)
    * count); both LM tables are ≤[[DsirBuckets]] rows → broadcast-hash
    * joins; totals ride 1-row broadcast crosses; selection is
    * TakeOrderedAndProject (per-partition top-k heap, never a global
    * sort); the final rank window runs over [[DsirK]] rows. */
  val t25DsirResample: Q = (spark, dir) => {
    val B = DsirBuckets
    val tb = fanOut(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), " ")).as("term"))
      .select(col("doc_id"), col("lang"),
        pmod(expr("cast(conv(substring(md5(term),1,15),16,10) as bigint)"),
          lit(B.toLong)).as("b"))
      .localCheckpoint() // feeds the per-doc counts AND both LM tables
    val nb = tb.groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("n"))
    val ct = tb.filter(col("lang") === DsirTargetLang)
      .groupBy(col("b")).agg(count(lit(1)).as("c_t"))
    val cr = tb.groupBy(col("b")).agg(count(lit(1)).as("c_r"))
    val nt = ct.agg(sum(col("c_t")).as("n_t"))
    val nr = cr.agg(sum(col("c_r")).as("n_r"))
    val lw = nb
      .join(broadcast(cr), "b") // every observed bucket is in cr
      .join(broadcast(ct), Seq("b"), "left") // target may have missed it
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .withColumn("term_lw", col("n") * log(
        ((coalesce(col("c_t"), lit(0L)) + 1L) * (col("n_r") + B)).cast(DoubleType) /
          ((col("c_r") + 1L) * (col("n_t") + B)).cast(DoubleType)))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("term_lw")).as("lw"))
    lw
      .withColumn("u",
        (pmod(expr("cast(conv(substring(md5(concat('dsir:', cast(doc_id as string))),1,15),16,10) as bigint)"),
          lit(1000L)).cast(DoubleType) + lit(0.5)) / lit(1000.0))
      .withColumn("lw_e6", e6(col("lw")))
      .withColumn("key_e6",
        e6(col("lw") - log(-log(col("u")))))
      .orderBy(col("key_e6").desc, col("doc_id")).limit(DsirK)
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("key_e6").desc, col("doc_id"))).cast("long"))
      .select(col("rk"), col("doc_id"), col("lang"), col("lw_e6"), col("key_e6"))
      .orderBy(col("rk"))
  }

  val all: Map[String, Q] = Map(
    "t25_dsir_resample" -> t25DsirResample,
    "m2_frame_sample" -> m2FrameSample,
    "m5_image_phash" -> m5ImagePhash,
    "m8_clip_filter" -> m8ClipFilter,
    "t17_ppl_buckets" -> t17PplBuckets,
    "d6_dedup_clusters" -> d6DedupClusters,
    "d19_canonical_pick" -> d19CanonicalPick,
    "t5_chunk" -> t5Chunk,
    "t6_sample_stratified" -> t6SampleStratified,
    "t7_pack_shards" -> t7PackShards,
    "t8_decontaminate" -> t8Decontaminate,
    "t8s_stream_decont" -> t8sStreamDecont,
    "d2s_stream_neardup" -> d2sStreamNeardup,
    "t16_contam_score" -> t16ContamScore,
    "t9_tfidf_keywords" -> t9TfidfKeywords,
    "t10_boilerplate" -> t10Boilerplate,
    "t11_repetition" -> t11Repetition,
    "t12_mix_rebalance" -> t12MixRebalance,
    "t23_temperature_mix" -> t23TemperatureMix,
    "t30_epoch_plan" -> t30EpochPlan,
    "t30b_epoch_replan" -> t30bEpochReplan,
    "t31_epoch_shuffle" -> t31EpochShuffle,
    "t13_pii_redact" -> t13PiiRedact,
    "t14_vocab" -> t14Vocab,
    "t15_lm_score" -> t15LmScore,
    "t18_bpe_pairs" -> t18BpePairs,
    "t27_bpe_train" -> t27BpeTrain,
    "t27b_bpe_vocab_target" -> t27bBpeVocabTarget,
    "t28_bpe_encode" -> t28BpeEncode,
    "t19_quality_model" -> t19QualityModel,
    "t20_gopher_rules" -> t20GopherRules,
    "d10_source_quota" -> d10SourceQuota,
    "k3_source_drift" -> k3SourceDrift,
    "t21_split_leakfree" -> t21SplitLeakfree,
    "t22_bigram_score" -> t22BigramScore,
    "d1_exact_dedup" -> d1ExactDedup,
    "d7_semdedup" -> d7Semdedup,
    "d8_substring_dedup" -> d8SubstringDedup,
    "d16_substring_cut" -> d16SubstringCut,
    "d17_incremental_cut" -> d17IncrementalCut,
    "d9_incremental_dedup" -> d9IncrementalDedup,
    "d15_incremental_neardup" -> d15IncrementalNeardup,
    "d18_delete_readmission" -> d18DeleteReadmission,
    "d2_minhash_lsh" -> d2MinhashLsh,
    "d3_simhash" -> d3Simhash,
    "d13_dedup_eval" -> d13DedupEval,
    "t24_normalize" -> t24Normalize,
    "t26_sequence_pack" -> t26SequencePack,
    "k5_curation_funnel" -> k5CurationFunnel,
    "k6_corpus_overlap" -> k6CorpusOverlap,
    "k7_count_min" -> k7CountMin,
    "k8_hll_distinct" -> k8HllDistinct,
    "k9_dd_quantiles" -> k9DdQuantiles,
    "t29_quantile_trim" -> t29QuantileTrim,
    "k8s_stream_hll" -> k8sStreamHll,
    "k9s_stream_ddsketch" -> k9sStreamDdsketch,
    "k10_priority_sample" -> k10PrioritySample,
    "k10b_subset_sum" -> k10bSubsetSum,
    "k10s_stream_sample" -> k10sStreamSample,
    "k11_theta_sketch" -> k11ThetaSketch,
    "k11s_stream_theta" -> k11sStreamTheta,
    "k7s_stream_sketch" -> k7sStreamSketch,
    "dag_bucketed_join" -> dagBucketedJoin,
    "g1_pagerank" -> g1PageRank,
    "g1b_incremental_pagerank" -> g1bIncrementalPagerank,
    "g2_incremental_cc" -> g2IncrementalCc,
    "g2b_cc_retirement" -> g2bCcRetirement,
    "g2c_doc_takedown" -> g2cDocTakedown,
    "d19b_incremental_canonical" -> d19bIncrementalCanonical,
    "g4b_incremental_triangles" -> g4bIncrementalTriangles,
    "k12_rollup_distinct" -> k12RollupDistinct,
    "d19c_takedown_reelection" -> d19cTakedownReelection,
    "k12s_stream_rollup" -> k12sStreamRollup,
    "g4_triangles" -> g4Triangles,
    "d4_ngram_jaccard" -> d4NgramJaccard,
    "d14_fuzzy_join" -> d14FuzzyJoin,
    "d14b_fuzzy_join_k2" -> d14bFuzzyJoinK2,
    "d14c_fuzzy_expand" -> d14cFuzzyExpand,
    "d11_containment" -> d11Containment,
    "d12_url_dedup" -> d12UrlDedup,
    "d5_embedding_neardup" -> d5EmbeddingNeardup,
    "v1_cosine_topk" -> v1CosineTopk,
    "v2_ann_lsh" -> v2AnnLsh,
    "v3_ann_ivf" -> v3AnnIvf,
    "v4_quantized_topk" -> v4QuantizedTopk,
    "v5_kmeans" -> v5Kmeans,
    "v20_pq_train" -> v20PqTrain,
    "v21_trained_pq_serve" -> v21TrainedPqServe,
    "v22_trained_ivf_serve" -> v22TrainedIvfServe,
    "v23_persisted_trained_ivf" -> v23PersistedTrainedIvf,
    "v24_partitioned_trained_ivf" -> v24PartitionedTrainedIvf,
    "v25_lloyd_convergence" -> v25LloydConvergence,
    "v26_converged_ivf_serve" -> v26ConvergedIvfServe,
    "v27_residual_pq" -> v27ResidualPq,
    "v28_persisted_residual" -> v28PersistedResidual,
    "v29_converged_residual" -> v29ConvergedResidual,
    "v30_trained_sq" -> v30TrainedSq,
    "v6_pq_topk" -> v6PqTopk,
    "v7_ivfpq" -> v7IvfPq,
    "v15_persisted_ivfpq" -> v15PersistedIvfpq,
    "v16_index_maintenance" -> v16IndexMaintenance,
    "v15s_stream_index" -> v15sStreamIndex,
    "v18_partitioned_index" -> v18PartitionedIndex,
    "v17_rrf_fusion" -> v17RrfFusion,
    "v19_binary_ann" -> v19BinaryAnn,
    "v8_bm25" -> v8Bm25,
    "v9_maxsim_rerank" -> v9MaxsimRerank,
    "v10_matryoshka" -> v10MatryoshkaRerank,
    "v11_filtered_ann" -> v11FilteredAnn,
    "v12_recall_eval" -> v12RecallEval,
    "v13_rank_metrics" -> v13RankMetrics,
    "v14_range_search" -> v14RangeSearch,
    "t1_text_stats" -> t1TextStats,
    "t2_lang_id" -> t2LangId,
    "t3_token_count" -> t3TokenCount,
    "t4_fingerprint" -> t4Fingerprint,
    "m1_multimodal_meta" -> m1MultimodalMeta,
    "m3_audio_meta" -> m3AudioMeta,
    "m6_audio_fingerprint" -> m6AudioFingerprint,
    "m4_video_meta" -> m4VideoMeta,
    "m7_video_fingerprint" -> m7VideoFingerprint)
}

