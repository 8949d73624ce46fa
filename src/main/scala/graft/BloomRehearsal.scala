package graft

import org.apache.spark.sql.functions._
import graft.incremental.SnapshotStore

/** Bloom-index end-to-end rehearsal at a ScaleGen tier (SCALE.md §7; the
  * round-9 URI/TZ soundness fixes under the conditions that motivated
  * them): builds a store table from the tier's `documents` with
  *
  *  - a PARTITION VALUE containing a space and a percent sign (so the
  *    `_dt=` directory name percent-encodes — the exact case the round-9
  *    `input_file_name()` URI-decode fix exists for), and
  *  - a high-cardinality sha256 digest column whose per-file [min, max]
  *    ranges all overlap (so only the Bloom layer can prune).
  *
  * Then: `analyze` + `analyzeBloom`, a present-digest point lookup
  * through the skipping reader (must return exactly the plain read's
  * row while skipping files), an absent-digest lookup (must prove
  * absence everywhere — zero files kept), and an IN-list probe.
  * Prints kept/skipped counts for the SCALE.md ledger; exits nonzero on
  * any soundness violation.
  *
  * Usage: BloomRehearsal [sfDir] (default /tmp/graft-sf1)
  */
object BloomRehearsal {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft-sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Harness.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val root = java.nio.file.Files.createTempDirectory("graft-bloom-sf").toString
    var failures = 0
    def check(name: String)(cond: => Boolean): Unit = {
      val ok = try cond catch { case e: Throwable =>
        System.err.println(s"  [$name] threw: ${e.getMessage}"); false }
      println(f"  $name%-58s ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures += 1
    }
    try {
      val docs = Sources.testdata(spark, sfDir)("documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("digest"),
          // partition values with a space AND a percent sign: both
          // percent-encode in the file URI, so a raw-string relativize
          // would mis-key every file and the empty bloom would "prove"
          // every digest absent
          concat(lit("batch %"), pmod(col("doc_id"), lit(4)).cast("string"),
            lit(" tier")).as("pv"))
      val t0 = System.nanoTime()
      // no compaction: the natural task layout writes one file per
      // (task, partition) pair — tens of files per dir, so the skip
      // counters measure a real multi-file-per-partition layout
      SnapshotStore.merge(spark, root,
        docs.repartition(16, col("doc_id")), Seq("doc_id"),
        partitionDate = Some(col("pv")))
      SnapshotStore.analyze(spark, root, Seq("digest"))
      SnapshotStore.analyzeBloom(spark, root, "digest")
      println(f"  build+analyze+bloom: ${(System.nanoTime() - t0) / 1e9}%.1f s")

      val nFiles = graft.incremental.Manifest.read(
        java.nio.file.Paths.get(root, SnapshotStore.currentSnapshot(root).get))
        .get.files.size
      println(s"  files in snapshot: $nFiles")

      // a digest present in exactly one doc (any row works; take the min)
      val probe = docs.agg(min(col("digest"))).head.getString(0)
      val expect = docs.filter(col("digest") === probe)
        .select("doc_id").collect().map(_.getLong(0)).toSet

      val (df1, idx1) = SnapshotStore.readSkipping(spark, root).get
      val got = df1.filter(col("digest") === probe)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      check("present digest returns exactly the plain read's rows") {
        got == expect && got.nonEmpty
      }
      println(s"  present-digest lookup: kept=${idx1.get.lastKept} " +
        s"skipped=${idx1.get.lastSkipped}")
      check("present-digest lookup skips files") { idx1.get.lastSkipped > 0 }

      val (df2, idx2) = SnapshotStore.readSkipping(spark, root).get
      val absent = "0" * 64
      check("absent digest proves absence in every file") {
        df2.filter(col("digest") === absent).count() == 0 && idx2.get.lastKept == 0
      }
      println(s"  absent-digest lookup: kept=${idx2.get.lastKept} " +
        s"skipped=${idx2.get.lastSkipped}")

      val wanted = docs.filter(pmod(col("doc_id"), lit(997)) === 0)
        .select("digest").limit(5).collect().map(_.getString(0)).toSeq
      val (df3, idx3) = SnapshotStore.readSkipping(spark, root).get
      check("IN-list probe finds all wanted digests") {
        df3.filter(col("digest").isin(wanted: _*))
          .select("digest").distinct().count() == wanted.distinct.size
      }
      println(s"  in-list lookup: kept=${idx3.get.lastKept} " +
        s"skipped=${idx3.get.lastSkipped}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
    println(s"${if (failures == 0) "PASS" else "FAIL"} ($failures failures) at $sfDir")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
