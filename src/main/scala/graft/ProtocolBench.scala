package graft

/** The protocol-class ledger — end-to-end timings for every query
  * [[Bench.ProtocolClass]] excludes from the throughput bench (full DAG
  * runs through the disk merge sink, store bootstraps, streaming
  * replays). These numbers measure the STORE PATH (merge planning,
  * partition pruning, hard-link carry, pointer swaps, checkpointed
  * foreachBatch replays), so a regression there shows up on THIS ledger
  * instead of hiding behind the throughput bench's exclusion.
  *
  * Prints one JSON line (metric `protocol_total`) and persists it to
  * `target/protocol_bench.json`; per-round snapshots are committed as
  * `bench/protocol_r{N}.json`. Usage mirrors [[Bench]]:
  * `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_BENCH_RUNS` (default 3, median).
  */
object ProtocolBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Harness.warmSession(cpus)
    // intersect with the live query map: a ProtocolClass name that no
    // longer exists must fail loudly, not silently shrink the ledger
    val missing = Bench.ProtocolClass -- SparkEntry.queries.keySet
    require(missing.isEmpty, s"ProtocolClass names not in SparkEntry.queries: $missing")
    // protocol queries own their temp store trees; between runs only the
    // session-level residue (caches, dead checkpoint blocks) is released
    val (results, failures) = Harness.medians(spark, sfDir,
      Bench.ProtocolClass.toSeq.sorted, runs, "protocol-bench")
    val line = Harness.ledgerLine("protocol_total", results, results, failures, sfDir, runs)
    println(line)
    Harness.persist("target/protocol_bench.json", line, "protocol-bench")
    spark.stop()
  }
}
