package perfbench

import graft.Sources
import graft.fixtures.DeepbookFixtures
import graft.models.EventModels
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, unix_millis}
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.Instant
import java.util.SplittableRandom

/** Seeded generator of the DeepBook sources (`sui.events`, `sui.objects`,
  * `prices.day`) in the shapes of FIXTURES.md, one parquet file per table.
  *
  * Day `d` (1-based) covers [dayStart(d), dayStart(d + 1)). Day 0 holds a
  * few events older than the 30-day backfill bound, which every build must
  * exclude. Each day's rows come from their own random stream, seeded by
  * (seed, day), so a day's content does not depend on how many days are
  * generated. All JSON numerics are integer strings, so every downstream
  * sum is exact and independent of evaluation order.
  *
  * Most events are noise types; the five margin event types are a few
  * percent of the log, as on chain. */
final class DeepbookGen(seed: Long, pools: Int, val days: Int, noisePerDay: Int) {
  import DeepbookGen._

  def dayStart(d: Int): Long = Day1Ms + (d - 1) * DayMs
  /** The clock of the run that lands day `d`: the end of that day. */
  def dayEnd(d: Int): Instant = Instant.ofEpochMilli(dayStart(d + 1))

  private def poolId(p: Int) = f"0xpool$p%02d"
  private def assetType(p: Int) = DeepbookFixtures.pools(p % DeepbookFixtures.pools.size).assetType
  private def rng(d: Int, stream: Int) =
    new SplittableRandom(seed * 1000003L + d * 7919L + stream)

  /** Transaction digests of every `LoanBorrowedEvent` on day `d`. */
  def borrowDigests(d: Int): Seq[String] =
    eventRows(d).collect { case r if r.getString(4).endsWith("LoanBorrowedEvent") => r.getString(0) }

  def eventRows(d: Int): Seq[Row] = {
    val r = rng(d, 1)
    val rows = Seq.newBuilder[Row]
    val pkg = EventModels.pkg
    def ev(digest: String, idx: Long, ts: Long, sender: String, et: String, json: String): Unit =
      rows += Row(digest, idx, ts, sender, et, json)
    def amount() = 1000000L + r.nextLong(9000000L)
    def ts() = dayStart(d) + r.nextLong(DayMs)
    if (d == 0) {
      val old = dayStart(1) - 40 * DayMs
      ev(s"0x${seed}old0", 0L, old, "0xsender0", s"$pkg::margin_pool::AssetSupplied",
        s"""{"margin_pool_id":"${poolId(0)}","supplier_cap_id":"0xcap0","asset_type":{"name":"${assetType(0)}"},"supply_amount":"999999","supply_shares":"999000","timestamp":"$old"}""")
      ev(s"0x${seed}old1", 2L, old, "0xsender0", s"$pkg::margin_manager::LoanBorrowedEvent",
        s"""{"loan_amount":"888888","loan_shares":"888000","margin_manager_id":"0xmgr0","margin_pool_id":"${poolId(0)}","timestamp":"$old"}""")
    } else {
      for (p <- 0 until pools) {
        val pid = poolId(p)
        val sender = s"0xsender$p"
        def digest(kind: String, i: Int) = s"0x${seed}d${d}p${p}$kind$i"
        for (i <- 0 until 1 + r.nextInt(3)) {
          val (t, a) = (ts(), amount())
          ev(digest("s", i), 0L, t, sender, s"$pkg::margin_pool::AssetSupplied",
            s"""{"margin_pool_id":"$pid","supplier_cap_id":"0xcap$p","asset_type":{"name":"${assetType(p)}"},"supply_amount":"$a","supply_shares":"${a - 10000L}","timestamp":"$t"}""")
        }
        for (i <- 0 until r.nextInt(3)) {
          val (t, a) = (ts(), amount())
          ev(digest("w", i), 1L, t, sender, s"$pkg::margin_pool::AssetWithdrawn",
            s"""{"margin_pool_id":"$pid","supplier_cap_id":"0xcap$p","asset_type":{"name":"${assetType(p)}"},"withdraw_amount":"$a","withdraw_shares":"${a - 3000L}","timestamp":"$t"}""")
        }
        for (i <- 0 until 1 + r.nextInt(3)) {
          val (t, a) = (ts(), amount())
          ev(digest("b", i), 2L, t, sender, s"$pkg::margin_manager::LoanBorrowedEvent",
            s"""{"loan_amount":"$a","loan_shares":"${a - 5000L}","margin_manager_id":"0xmgr$p","margin_pool_id":"$pid","timestamp":"$t"}""")
        }
        for (i <- 0 until r.nextInt(2)) {
          val (t, a) = (ts(), amount())
          ev(digest("r", i), 3L, t, sender, s"$pkg::margin_manager::LoanRepaidEvent",
            s"""{"margin_manager_id":"0xmgr$p","margin_pool_id":"$pid","repay_amount":"$a","repay_shares":"${a - 2000L}","timestamp":"$t"}""")
        }
        for (i <- 0 until r.nextInt(3)) {
          val (t, a) = (ts(), amount())
          ev(digest("c", i), 4L, t, sender, s"$pkg::margin_manager::DepositCollateralEvent",
            s"""{"amount":"$a","asset":{"name":"${assetType(p)}"},"margin_manager_id":"0xmgr$p","pyth_decimals":"8","pyth_price":"${99000000L + r.nextInt(1000000)}","timestamp":"$t"}""")
        }
      }
      for (i <- 0 until noisePerDay) {
        val t = ts()
        ev(s"0x${seed}d${d}n$i", i.toLong % 7, t, s"0xtrader${r.nextInt(500)}",
          NoiseTypes(r.nextInt(NoiseTypes.size)),
          s"""{"pool_id":"0xclob${r.nextInt(40)}","price":"${r.nextLong(1000000000L)}","quantity":"${r.nextLong(1000000000L)}","timestamp":"$t"}""")
      }
    }
    rows.result()
  }

  def objectRows(d: Int): Seq[Row] = if (d == 0) Nil else {
    val r = rng(d, 2)
    val rows = Seq.newBuilder[Row]
    val pkg = EventModels.pkg
    for (p <- 0 until pools; i <- 0 until 1 + r.nextInt(2)) {
      val ts = dayStart(d) + 6 * 3600000L + i * 3600000L + r.nextLong(3000000L)
      val version = d * 100L + i
      val supply = 1000000000000L + r.nextLong(500000000000L)
      val borrow = r.nextLong(supply / 2)
      val enabled = p % 2 == 0
      val json =
        s"""{"id":{"id":"${poolId(p)}"},""" +
          s""""state":{"total_borrow":"$borrow","total_supply":"$supply","borrow_shares":"${borrow - 1000L}","supply_shares":"${supply - 2000L}","last_update_timestamp":"${ts - 1000L}"},""" +
          s""""vault":"${50000000000L + r.nextLong(1000000000L)}",""" +
          s""""protocol_fees":{"fees_per_share":"${12 + r.nextInt(10)}","maintainer_fees":"${3400 + r.nextInt(100)}","protocol_fees":"${8100 + r.nextInt(100)}","total_shares":"${supply - 2000L}","referrals":{"size":"2"}},""" +
          s""""positions":{"positions":{"size":"${10 + r.nextInt(50)}","id":{"id":"0xtbl$p"}}},""" +
          s""""config":{"interest_config":{"base_rate":"10000000","base_slope":"50000000","excess_slope":"900000000","optimal_utilization":"800000000"},""" +
          s""""margin_pool_config":{"max_utilization_rate":"950000000","min_borrow":"1000000","protocol_spread":"100000000","supply_cap":"5000000000000","rate_limit_enabled":"$enabled","rate_limit_capacity":"100000000000"}},""" +
          s""""rate_limiter":{"available":"${90000000000L - r.nextLong(1000000000L)}","capacity":"100000000000","enabled":$enabled,"last_updated_ms":"${ts - 500L}"},""" +
          s""""allowed_deepbook_pools":{"contents":["0xdbp1","0xdbp2"]}}"""
      rows += Row(poolId(p), version, s"$pkg::margin_pool::MarginPool<${assetType(p)}>",
        "Exists", json, ts)
    }
    for (i <- 0 until 20)
      rows += Row(s"0xother$i", d * 100L + i, s"$pkg::other::Thing<X>", "Exists",
        s"""{"x":"$i"}""", dayStart(d) + r.nextLong(DayMs))
    rows.result()
  }

  def priceRows(d: Int): Seq[Row] = if (d == 0) Nil else {
    val r = rng(d, 3)
    def ts(h: Int) = Timestamp.from(Instant.ofEpochMilli(dayStart(d) + h * 3600000L))
    Seq(
      Row("sui", "SUI", ts(10), (300 + r.nextInt(100)) / 100.0),
      Row("sui", "SUI", ts(20), (300 + r.nextInt(100)) / 100.0),
      Row("sui", "USDC", ts(12), 0.99),
      Row("sui", "DEEP", ts(2), (100 + r.nextInt(100)) / 1000.0),
      Row("sui", "DEEP", ts(12), (100 + r.nextInt(100)) / 1000.0),
      Row("ethereum", "SUI", ts(12), 99.9),
      Row("sui", "BTC", ts(12), 50000.0))
  }

  /** Write days 0..[[days]] as `dir/<table>.parquet` (one file each) and
    * return what was written. */
  def write(spark: SparkSession, dir: String): DeepbookGen.Written = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val tables = Seq(
      ("sui_events", Sources.suiEventsSchema, (0 to days).flatMap(eventRows)),
      ("sui_objects", Sources.suiObjectsSchema, (0 to days).flatMap(objectRows)),
      ("prices_day", Sources.pricesDaySchema, (0 to days).flatMap(priceRows)))
    val counts = tables.map { case (name, schema, rows) =>
      rows.foreach(r => md.update(r.mkString("|").getBytes("UTF-8")))
      val path = Paths.get(dir, s"$name.parquet")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(path.toString)
      name -> (rows.size.toLong, DeepbookGen.treeBytes(path))
    }
    DeepbookGen.Written(md.digest().map(b => f"$b%02x").mkString, counts.toMap)
  }

  /** The sources as of the end of day `day`: later rows are not visible
    * yet. Landing a day is moving this cut-off. */
  def asOf(spark: SparkSession, dir: String, day: Int): Sources = {
    val all = Sources.sui(spark, dir)
    val cut = dayStart(day + 1)
    Sources { name =>
      val ts = if (name == "prices.day") unix_millis(col("timestamp")) else col("timestamp_ms")
      all(name).filter(ts < cut)
    }
  }
}

object DeepbookGen {
  val DayMs: Long = 86400000L
  val Day1Ms: Long = Instant.parse("2026-01-01T00:00:00Z").toEpochMilli

  private val NoiseTypes = Seq(
    "0xdee9::clob_v2::OrderPlaced", "0xdee9::clob_v2::OrderFilled",
    "0xdee9::clob_v2::OrderCanceled", "0x2::coin::CoinBalanceChange",
    s"${EventModels.pkg}::margin_manager::MarginManagerCreated")

  /** Content digest and (rows, bytes) per table of one generated source set. */
  final case class Written(digest: String, tables: Map[String, (Long, Long)])

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}
