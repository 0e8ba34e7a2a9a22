package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CountAggregator
import graft.model.Tables
import graft.ops._

/**
 * The reference's 12 topologies (SURVEY.md §2 table) as batch queries over
 * the driver-generated parquet (TESTDATA.md). Each query is a composition
 * of `graft.ops` operators; the same ops run under Structured Streaming in
 * `graft.streaming`. Inputs map onto testdata via [[SyntheticSources]] so
 * every query exercises its real wire-format parse path.
 *
 * Windowed topologies use event-time sliding windows (2 h length / 1 h
 * slide — same decoupled winLen/emitFreq shape as conf.yaml:22-23) over
 * `events.ts`; the reference's processing-time trigger cadence lives in
 * the streaming entry points (SURVEY.md §7.4 risk 2).
 */
object BenchQueries {

  val GrepPattern = "spark" // reference default "Tom" (conf/conf.yaml:33)
  val DistThresholdKm = 10.0 // collision_warning.dist_threshold_km (conf.yaml:25)
  val SpecSteps = 3 // collision_warning.speculative_comp_num (conf.yaml:26)
  val SpecStepSec = 5 // collision_warning.speculative_comp_time_step_sec (conf.yaml:27)

  /** Topology 1: WordCount (WordCount.java:49) — split + running count. */
  def wordcount(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.wordCount(Tables.documents(spark, sfDir), col("text"))

  /** Topology 2: Grep (Grep.java:52) — regex filter + global match count. */
  def grep(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.grepCount(Tables.documents(spark, sfDir), col("text"), GrepPattern)

  /** Topology 3: SOL (SOL.java:54) — identity const-bolt chain, depth from
   *  sol.topology_level=3 (conf.yaml:32). The Storm hops were shuffles;
   *  Spark fuses the chain into one codegen stage (that's the win). */
  def sol(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.constChain(Tables.events(spark, sfDir), col("props"), levels = 3)

  /** Exchange-per-hop SOL variant: the reference's hops are shuffleGrouping
   *  network exchanges (SOL.java:44-49) — `sol` above shows Spark's fusion
   *  win; this declares the per-hop exchange so the bench carries an
   *  explicit serialization+shuffle cost number (one exchange survives
   *  CollapseRepartition — see TextOps.constChainShuffled). */
  def solShuffled(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.constChainShuffled(Tables.events(spark, sfDir), col("props"), levels = 3)

  /** Topology 4: DataClean (DataClean.java:50) — parse page views, keep
   *  records with http_status != 200, emit the raw view line. */
  def dataclean(spark: SparkSession, sfDir: String): DataFrame = {
    val lines = SyntheticSources.pageViewLines(Tables.events(spark, sfDir))
    val parsed = PageViewOps.parse(lines, col("page_view"))
    PageViewOps.filterNot(parsed, col("http_status"), 200, col("page_view"))
  }

  /** Topology 5: PageViewCount (PageViewCount.java:46) — running count per URL. */
  def pageviewCount(spark: SparkSession, sfDir: String): DataFrame = {
    val lines = SyntheticSources.pageViewLines(Tables.events(spark, sfDir))
    PageViewOps.parse(lines, col("page_view"))
      .groupBy("url").agg(count(lit(1)).as("cnt"))
  }

  /** Topology 6: UniqueVisitor (UniqueVisitor.java:55) — sliding-window
   *  exact distinct users per URL (UniqueVisitorBolt.java:36-93). */
  def uniqueVisitor(spark: SparkSession, sfDir: String): DataFrame = {
    val lines = SyntheticSources.pageViewLines(Tables.events(spark, sfDir))
    val parsed = PageViewOps.parse(lines, col("page_view"))
    WindowOps.windowedDistinct(parsed, col("ts"), col("url"), "url",
      col("user_id"), "2 hours", "1 hour")
  }

  /**
   * Scale variant of topology 6: windowed distinct via HLL++ sketch
   * (SURVEY.md §4.3.2 — the 100 TB path where exact per-window sets
   * don't fit). Emits the exact count plus a checked accuracy contract:
   * `approx_count_distinct(rsd=0.03)` must land within max(15%, +-2) of
   * exact (Spark's HLL++ has no sparse mode, so tiny cardinalities carry
   * a small absolute error; at rsd 0.03 the register array is large
   * enough that window-sized sets sit in the near-exact linear-counting
   * regime). The boolean lets the DuckDB oracle verify the sketch's
   * guarantee (the estimate is deterministic) without reproducing HLL
   * internals.
   */
  def uniqueVisitorApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val lines = SyntheticSources.pageViewLines(Tables.events(spark, sfDir))
    val parsed = PageViewOps.parse(lines, col("page_view"))
    // fanOut: the Expand (exact-distinct + HLL sketch side by side)
    // multiplies every event across its two sliding windows BEFORE the
    // partial agg — heavy row-local work that ran on the one-file
    // scan's single split (FanOut contract: wide scans pass through)
    FanOut.fanOut(parsed)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("url"))
      .agg(count_distinct(col("user_id")).as("uniques"),
        approx_count_distinct(col("user_id"), 0.03).as("approx"))
      .select(col("w.start").as("w_start"), col("url"), col("uniques"),
        (abs(col("approx") - col("uniques")) <=
          greatest(col("uniques") * 0.15, lit(2))).as("approx_ok"))
  }

  /** Topology 7: RollingCount (RollingCount.java:49) — sliding-window count
   *  per key (word := event_type). */
  def rollingCount(spark: SparkSession, sfDir: String): DataFrame =
    WindowOps.slidingCount(Tables.events(spark, sfDir), col("ts"),
      col("event_type"), "word", "2 hours", "1 hour")

  /** Topology 8: RollingHashtagCount (RollingHashtagCount.java:83-92) —
   *  13-field tweet parse + hashtag extraction + SLIDING-WINDOW count:
   *  HashtagBolt feeds a RollingCountBolt (60 s/5 s in conf/conf.yaml:30-31;
   *  2 h/1 h here like the other rolling queries, same slot ratio
   *  decoupling). The window is the topology's defining composition —
   *  a global count would answer a different question. */
  def rollingHashtag(spark: SparkSession, sfDir: String): DataFrame = {
    val tags = TextOps.extractHashtags(
      SyntheticSources.tweetLines(Tables.documents(spark, sfDir)), col("tweet"))
    WindowOps.slidingCount(tags, col("ts"), col("hashtag"), "hashtag",
      "2 hours", "1 hour")
  }

  /** Topology 9: RollingGeoCount (RollingGeoCount.java:104) — grid-zone
   *  bucketing + sliding-window count per zone. */
  def rollingGeo(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = SyntheticSources.geoPoints(Tables.events(spark, sfDir))
      .withColumn("zone", GeoOps.zoneOf(col("lat"), col("lng")))
    WindowOps.slidingCount(pts, col("ts"), col("zone"), "zone", "2 hours", "1 hour")
  }

  /** Topology 10: RollingSort (RollingSort.java:54) — per-window sort,
   *  top-k rows with rank (SortBolt logs topK rows per tick). */
  def rollingSort(spark: SparkSession, sfDir: String): DataFrame =
    WindowOps.topKPerWindow(Tables.events(spark, sfDir), col("ts"), "1 hour",
      k = 5, order = Seq(col("value"), col("event_id")))
      .select(col("w_start"), col("rn"), col("event_id"), col("value"))

  /** Count-based variant of topology 10: the reference's SortBolt holds the
   *  last `chunkSize` ARRIVALS in an overwrite-oldest ring buffer
   *  (RollingSort.java:70-71,120-127) — not a time window. Arrival order
   *  := (ts, event_id); chunk=500 stands in for rolling_sort.chunk_size
   *  (conf.yaml:21 — 3M, which at test SFs would never evict; 500
   *  truncates at every SF so the last-N semantics are really exercised). */
  def rollingSortLastN(spark: SparkSession, sfDir: String): DataFrame =
    WindowOps.lastNSorted(Tables.events(spark, sfDir),
      Seq(col("ts"), col("event_id")), n = 500, Seq("value", "event_id"))

  /**
   * Topology 11: RollingFlightDist (RollingFlightDist.java:329) — the
   * all-pairs proximity join. Decomposed Spark-first (SURVEY.md §2.7):
   * latest-position-per-aircraft (hash-agg argmax) -> broadcast theta
   * self-join on icao ordering -> speculative timesteps via
   * explode(sequence) -> dead-reckoning + haversine -> threshold filter.
   * The reference's hashCode-ownership sharding (RollingFlightDist.java:213)
   * is replaced by the partitioned broadcast join.
   */
  def flightDist(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT fanned out (measured 0.72 -> 1.20 s with a fan-out): the
    // latest-per-key partial agg collapses the position stream to
    // #aircraft rows BEFORE any exchange, so a pre-agg repartition
    // shuffles the full parsed rows to save per-row work the map-side
    // combine already amortizes (guide §2.3 — shuffle fewer bytes);
    // the O(n²) pair stage fans out explicitly inside proximityPairs
    val pos = SyntheticSources.adsbPositions(Tables.events(spark, sfDir))
    val latest = WindowOps.latestPerKey(pos, Seq("icao"), Seq("pos_time", "event_id"))
    JoinOps.proximityPairs(latest, DistThresholdKm, SpecSteps, SpecStepSec)
  }

  /**
   * Wire-format variant of topology 11: the SAME latest/proximity
   * pipeline, but entered through the ADS-B JSON wire parse
   * (LatLongFilterBolt semantics, RollingFlightDist.java:91-113) instead
   * of pre-parsed columns — trailing-comma strip, null-field drop,
   * Gnd==true drop, Gnd-null-airborne all under the DuckDB hash gate
   * (VERDICT r6 missing #1). Spd arrives in knots and is converted
   * post-parse (RollingFlightDist.java:131).
   */
  def flightDistWire(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT fanned out — see flightDist (measured 0.97 -> 1.50 s with
    // one: the wire parse is cheaper than shuffling the parsed rows
    // the latest-per-key map-side combine is about to collapse)
    val lines = SyntheticSources.adsbWireLines(Tables.events(spark, sfDir))
    val pos = AdsbOps.parsePositionsWithId(lines, col("adsb"))
      .select(col("event_id"), col("icao"), col("posTime").as("pos_time"),
        col("lat"), col("lng"),
        (col("spd") * GeoOps.KnotToKmPerSec).as("spd_kms"), col("trak"))
    val latest = WindowOps.latestPerKey(pos, Seq("icao"), Seq("pos_time", "event_id"))
    JoinOps.proximityPairs(latest, DistThresholdKm, SpecSteps, SpecStepSec)
  }

  /** Topology 12: TridentWordCount (TridentWordCount.java:54) — the typed
   *  Dataset path: flatMap + groupByKey + a CombinerAggregator-shaped
   *  `Aggregator` (same monoid contract as Trident Count). A null text
   *  contributes no words, as in [[wordcount]]. */
  def tridentWordcount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select(col("text"))
      .filter(col("text").isNotNull).as[String]
      .flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupByKey(identity)
      .agg(new CountAggregator[String]().toColumn.name("cnt"))
      .toDF("word", "cnt")
  }
}
