package graft.operators

import graft.functions.Geo
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Trajectory features over per-entity time-ordered points
 * (reference: transformations/facts/fact_voyage_trajectory.py).
 */
object Trajectory {

  /**
   * Consecutive-point segment distance (km) per entity (optionally per
   * session): lag lat/lon over the time window, haversine to the previous
   * point (reference: fact_voyage_trajectory.py:117-139 compute_trajectory).
   *
   * All lag features share one window spec — Catalyst plans a single
   * Window operator, i.e. one shuffle + one sort per entity key.
   */
  def segmentDistance(df: DataFrame, partitionCols: Seq[String], tsSecCol: String,
                      latCol: String, lonCol: String,
                      tieBreak: Seq[String] = Nil,
                      outCol: String = "segment_km"): DataFrame = {
    val order = (col(tsSecCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(order: _*)
    df.withColumn(outCol,
      Geo.haversineKm(
        lag(col(latCol), 1).over(w), lag(col(lonCol), 1).over(w),
        col(latCol), col(lonCol)))
  }

  /**
   * Per-segment course bearing and turn rate over each entity's ordered
   * timeline: bearing from the previous fix ([[Geo.bearingDeg]]) and
   * the signed heading CHANGE per minute vs the previous segment,
   * wrapped to [−180, 180) — the maneuver feature behind loitering /
   * zig-zag detection (a transshipment idles and weaves; a transit
   * holds course). Shares the ONE (key, ts) window with
   * [[segmentDistance]] — same shuffle family, two lag chains.
   */
  def courseFeatures(df: DataFrame, partitionCols: Seq[String], tsSecCol: String,
                     latCol: String, lonCol: String,
                     tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (col(tsSecCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(order: _*)
    val bearing = Geo.bearingDeg(
      lag(col(latCol), 1).over(w), lag(col(lonCol), 1).over(w),
      col(latCol), col(lonCol))
    val withB = df.withColumn("bearing_deg", bearing)
    val dtMin = (col(tsSecCol) - lag(col(tsSecCol), 1).over(w)).cast("double") / 60.0
    // wrap the heading delta into (-180, 180]: pmod(d+180, 360) - 180
    val dHead = pmod(col("bearing_deg") - lag(col("bearing_deg"), 1).over(w) + 180.0,
      lit(360.0)) - 180.0
    withB.withColumn("turn_deg_per_min",
      when(dtMin > 0, dHead / dtMin))
  }

  /**
   * Stay-point (dwell) detection: maximal runs of consecutive
   * slow/anchored points per entity (speed below `speedThreshold`),
   * emitting the run's time span, point count, and mean position —
   * "where did this vessel sit, and for how long" (the run-length
   * upgrade of the reference's per-ROW movement state,
   * common_functions_curated.py:237). Runs shorter than
   * `minDurationSec` are noise (a single slow fix mid-transit) and are
   * dropped.
   *
   * Run ids come from a prefix-sum over state CHANGES on the same
   * (key, ts) window the session family shares — one shuffle; the
   * per-run rollup is a partial-agg groupBy.
   */
  def stayPoints(df: DataFrame, keyCols: Seq[String], tsSecCol: String,
                 speedCol: String, latCol: String, lonCol: String,
                 speedThreshold: Double, minDurationSec: Long,
                 tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (col(tsSecCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    val anchored = col(speedCol) < speedThreshold
    // two chained withColumns (lag, then running sum) — same window
    // spec, so Catalyst plans ONE Window operator / one shuffle
    df.withColumn("__anch", anchored)
      .withColumn("__chg", when(
        lag(col("__anch"), 1).over(w).isNull ||
          lag(col("__anch"), 1).over(w) =!= col("__anch"), 1L).otherwise(0L))
      .withColumn("stay_id", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__anch"))
      .groupBy((keyCols.map(col) :+ col("stay_id")): _*)
      .agg(min(col(tsSecCol)).as("start_sec"), max(col(tsSecCol)).as("end_sec"),
        count(lit(1)).as("n_points"),
        avg(col(latCol)).as("lat_mean"), avg(col(lonCol)).as("lon_mean"))
      .filter(col("end_sec") - col("start_sec") >= minDurationSec)
  }

  /**
   * Encounter (proximity) detection: point pairs of DISTINCT entities
   * observed within `maxKm` AND `maxGapSec` of each other — the
   * rendezvous/near-miss join behind dark-fleet and collision analytics.
   *
   * Candidates come from a bucketed self-EQUI-join on (time bucket,
   * latitude band, longitude cell):
   *
   *  - LATITUDE: great-circle distance is never less than its meridional
   *    component (≥ 111.19 km per degree of Δlat), so a qualifying pair
   *    differs by at most one `maxKm`-sized lat band. The LEFT side
   *    expands to band ± 1 — lossless at any latitude.
   *  - TIME: likewise at most one `maxGapSec` bucket apart; LEFT expands
   *    to bucket ± 1.
   *  - LONGITUDE: from the haversine formula, a pair within `maxKm`
   *    satisfies sin(|Δλ|/2) ≤ sin(maxKm/2R)/√(cosφ₁·cosφ₂), so with
   *    cmin = the minimum |cos φ| over the band's ±1-band latitude range,
   *    |Δλ| ≤ 2·asin(min(1, sin(maxKm/2R)/cmin)) — a PER-BAND bucket
   *    width. The circle is cut into nb equal cells of at least that
   *    width (nb from the RIGHT row's band, which is the join key's
   *    band, so both sides agree); the RIGHT side expands to its cell
   *    ± 1 mod nb, which also closes the ±180° wrap. Near the poles
   *    cmin → 0 drives the width past 360° → nb = 1, i.e. longitude
   *    blocking degrades gracefully to band-only there. This is what
   *    keeps a busy STRAIT sub-quadratic: a 50 km lat band spans the
   *    whole globe east-west, but its occupants spread over ~800 lon
   *    cells at the equator.
   *
   * Each qualifying pair meets at exactly ONE key — the right row's own
   * (band, bucket) and the left row's own lon cell (the right side's
   * mod-nb neighborhood is made distinct, so no key repeats) — so there
   * is no post-join dedup. Exact haversine + time-gap predicates verify
   * every candidate.
   *
   * Residual hot cells (an anchorage: thousands of fixes inside ONE
   * cell-bucket) are split by ADAPTIVE TWO-SIDED SALTING: one
   * column-pruned partial-agg count over base cells estimates each
   * key's candidate-pair product as (3n)²; keys past `hotPairBudget`
   * are split ns = ⌈√((3n)²/budget)⌉ ways (capped at `maxSalt`). Every
   * row carries its own deterministic salt and replicates across the
   * OTHER side's ns values, so a pair still meets exactly once — at
   * (saltₐ, salt_b) — and per-task candidate work is ~budget instead
   * of L·R in one straggler task. Cold keys (the broadcast lookup
   * misses) keep ns = 1 and are byte-identical to the unsalted plan.
   *
   * Scale shape: one equi-join (left ×9 by band/bucket neighborhood,
   * right ×3 by lon neighborhood — linear replication), never an
   * all-pairs cross join; the profile is bounded by the key space and
   * broadcast. Set `hotPairBudget = Long.MaxValue` to skip profiling
   * (e.g. inside a plan-shape test).
   */
  def encounters(df: DataFrame, idCol: String, tsSecCol: String,
                 latCol: String, lonCol: String,
                 maxKm: Double, maxGapSec: Long,
                 hotPairBudget: Long = 64000000L, maxSalt: Int = 64): DataFrame = {
    require(maxKm > 0 && maxGapSec > 0, "encounters needs positive bounds")
    require(hotPairBudget > 0 && maxSalt >= 1, "encounters needs a positive salt budget")
    // 111.0 < the true 111.19 km/° meridional scale: a slightly WIDER
    // band than maxKm strictly needs, so losslessness has margin
    val bandDeg = maxKm / 111.0
    def lonCells(band: Column): Column = Trajectory.lonCells(maxKm, bandDeg, band)
    def lonCell(band: Column, lon: Column): Column =
      Trajectory.lonCell(maxKm, bandDeg, band, lon)

    // nb and the own lon cell are computed ONCE per base row (the
    // transcendentals in lonCells would otherwise re-run per exploded
    // row — 12× the rows for the same answers)
    val base = df.select(col(idCol).as("id"), col(tsSecCol).as("ts"),
      col(latCol).cast("double").as("lat"), col(lonCol).cast("double").as("lon"))
      .withColumn("band", floor(col("lat") / bandDeg).cast("long"))
      .withColumn("tb", floor(col("ts") / maxGapSec).cast("long"))
      .withColumn("nb", lonCells(col("band")))
      .withColumn("lb", lonCell(col("band"), col("lon")))
    // RIGHT: own (band, tb); lon cell ± 1 mod nb (distinct — nb ≤ 2
    // collapses the neighborhood, which is what keeps pairs unique)
    val right = base
      .withColumn("lb", explode(array_distinct(array(
        pmod(col("lb") - 1 + col("nb"), col("nb")),
        col("lb"),
        pmod(col("lb") + 1, col("nb"))))))
      .select(col("id").as("id_b"), col("ts").as("ts_b"),
        col("lat").as("lat_b"), col("lon").as("lon_b"),
        col("band"), col("tb"), col("lb"))
    // LEFT: band/bucket ± 1; its OWN lon cell under the TARGET band's
    // bucketing (each neighbor band's cell is precomputed BEFORE the
    // explode — nb must match the key's band, which is the right row's)
    val left = base
      .withColumn("bl", explode(array(
        struct((col("band") - 1).as("band"),
          lonCell(col("band") - 1, col("lon")).as("lb")),
        struct(col("band").as("band"), col("lb").as("lb")),
        struct((col("band") + 1).as("band"),
          lonCell(col("band") + 1, col("lon")).as("lb")))))
      .withColumn("tb", explode(array(col("tb") - 1, col("tb"), col("tb") + 1)))
      .select(col("id").as("id_a"), col("ts").as("ts_a"),
        col("lat").as("lat_a"), col("lon").as("lon_a"),
        col("bl.band").as("band"), col("tb"), col("bl.lb").as("lb"))

    val key = Seq("band", "tb", "lb")
    val (leftS, rightS, saltKey) =
      if (hotPairBudget == Long.MaxValue || maxSalt == 1) (left, right, key)
      else {
        // hot-key profile on BASE cells only (1× rows, key columns only —
        // Catalyst prunes the rest; profiling the exploded sides would
        // cost a 12×-row shuffle that uniform data pays for nothing).
        // A key is quadratic-dangerous only if BOTH sides are big, and
        // the left side at key K is K's own lon column of the 3×3
        // band/bucket neighborhood — cells that are themselves profiled.
        // L·R is estimated as (3n)² (own cell + the two dominant
        // neighbors on each side); the budget is a task-shape target,
        // not an exact contract, and the estimate is within ~3× of
        // truth for every own-cell-hot shape (anchorage, strait).
        val hot = base
          .groupBy(key.map(col): _*).agg(count(lit(1)).as("_n"))
          .filter(col("_n") * col("_n") * 9 > hotPairBudget)
          .select(key.map(col) :+
            least(lit(maxSalt.toLong), ceil(col("_n") * 3 /
              sqrt(lit(hotPairBudget.toDouble)))).cast("int").as("_ns"): _*)
        val ls = left.join(broadcast(hot), key, "left")
          .withColumn("_ns", coalesce(col("_ns"), lit(1)))
          .withColumn("_sa", pmod(xxhash64(col("id_a"), col("ts_a")), col("_ns")).cast("int"))
          .withColumn("_sb", explode(sequence(lit(0), col("_ns") - 1)))
          .drop("_ns")
        val rs = right.join(broadcast(hot), key, "left")
          .withColumn("_ns", coalesce(col("_ns"), lit(1)))
          .withColumn("_sb", pmod(xxhash64(col("id_b"), col("ts_b")), col("_ns")).cast("int"))
          .withColumn("_sa", explode(sequence(lit(0), col("_ns") - 1)))
          .drop("_ns")
        (ls, rs, key ++ Seq("_sa", "_sb"))
      }
    leftS.join(rightS, saltKey)
      .filter(col("id_a") < col("id_b"))
      .filter(abs(col("ts_a") - col("ts_b")) <= maxGapSec)
      .withColumn("dist_km", Geo.haversineKm(col("lat_a"), col("lon_a"),
        col("lat_b"), col("lon_b")))
      .filter(col("dist_km") <= maxKm)
      .select("id_a", "id_b", "ts_a", "ts_b", "dist_km")
  }

  /**
   * Per-band longitude cell count for `maxKm`-proximity blocking: from
   * the haversine bound sin(|Δλ|/2) ≤ sin(maxKm/2R)/√(cosφ₁·cosφ₂),
   * with cmin = min |cos| over the band's ±1-band latitude reach (the
   * other point may sit one band away). Shared by the batch and
   * streaming encounter operators so their candidate keys agree.
   */
  private[graft] def lonCells(maxKm: Double, bandDeg: Double, band: Column): Column = {
    val maxAbsLat = greatest(abs((band - 1) * bandDeg), abs((band + 2) * bandDeg))
    // ANSI-safe: the division only runs where cmin > 0 (CaseWhen is
    // lazy per row); a band touching a pole gets the full 180° width
    val cmin = cos(radians(least(maxAbsLat, lit(90.0))))
    val ratio = when(cmin > 0,
      least(lit(1.0), lit(math.sin(maxKm / (2 * Geo.EarthRadiusKm))) / cmin))
      .otherwise(lit(1.0))
    val widthDeg = degrees(lit(2.0) * asin(ratio))
    // 1.001: fp slack so a pair at EXACTLY the bound still lands in
    // adjacent cells; floor only ever makes cells wider (safer)
    greatest(lit(1L), floor(lit(360.0) / (widthDeg * 1.001)).cast("long"))
  }

  /** Cell index of `lon` under `band`'s bucketing, wrap-normalized. */
  private[graft] def lonCell(maxKm: Double, bandDeg: Double,
                             band: Column, lon: Column): Column = {
    val nb = lonCells(maxKm, bandDeg, band)
    val lonNorm = lon - lit(360.0) * floor((lon + 180) / 360)
    pmod(floor((lonNorm + 180) * nb.cast("double") / 360.0).cast("long"), nb)
  }

  /**
   * Origin–destination matrix: each session's first and last cell,
   * counted over all sessions — the traffic-flow rollup ("how many
   * voyages went from cell A to cell B") behind route analytics. First/
   * last are `min_by`/`max_by` on (ts, tieBreak) — a partial-agg'd
   * groupBy, NOT a window — then one count groupBy on the (origin,
   * dest) pair. Two shuffles total, both keyed high-cardinality.
   */
  def odMatrix(sessions: DataFrame, keyCols: Seq[String], tsSecCol: String,
               cellCol: String, tieBreak: String): DataFrame =
    sessions.groupBy(keyCols.map(col): _*)
      .agg(
        min_by(col(cellCol), struct(col(tsSecCol), col(tieBreak))).as("origin"),
        max_by(col(cellCol), struct(col(tsSecCol), col(tieBreak))).as("dest"))
      .groupBy("origin", "dest").agg(count(lit(1)).as("n_sessions"))

  /**
   * Regularize an irregular per-entity time series onto a fixed grid:
   * one row per `stepSec`-aligned slot between each entity's first and
   * last observation, carrying the LAST observed value at or before the
   * slot (forward fill) — the resampling pass a model-feature export
   * runs over raw position/speed streams.
   *
   * Plan shape: slot assignment is a projection; per-slot last values
   * and per-entity bounds are partial-agg groupBys; the grid explodes
   * from one row per entity (span/step slots — bounded fan-out); the
   * forward fill is one `last(ignoreNulls)` window on the entity key.
   * No driver logic, no unbounded state.
   */
  def resampleForwardFill(df: DataFrame, keyCols: Seq[String], tsSecCol: String,
                          valueCol: String, stepSec: Long, rowKeyCol: String,
                          outCol: String = "value_ff"): DataFrame = {
    val keys = keyCols.map(col)
    val slotted = df.withColumn("slot",
      (floor(col(tsSecCol) / stepSec) * stepSec).cast("long"))
    // deterministic per-slot representative: value of the latest
    // (ts, rowKey) observation in the slot
    val obs = slotted.groupBy((keys :+ col("slot")): _*)
      .agg(max_by(col(valueCol), struct(col(tsSecCol), col(rowKeyCol))).as("v"))
    val grid = slotted.groupBy(keys: _*)
      .agg(min(col("slot")).as("mn"), max(col("slot")).as("mx"))
      .select((keys :+ explode(sequence(col("mn"), col("mx"), lit(stepSec))).as("slot")): _*)
    val w = Window.partitionBy(keys: _*).orderBy(col("slot").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, keyCols :+ "slot", "left")
      .withColumn(outCol, last(col("v"), ignoreNulls = true).over(w))
      .drop("v")
  }

  /**
   * Downsample a trajectory while keeping path fidelity
   * (reference: fact_voyage_trajectory.py:175 sample_trajectory):
   *  - moving rows: keep first + last point of each speed-dependent time
   *    bucket (fast vessels get finer buckets);
   *  - anchored rows: keep first + last per day;
   *  - always keep first + last per entity-day (daily endpoints).
   *
   * Keep-flags are computed with min/max over windows on the bucket keys;
   * bucket cardinality is high, so the shuffles stay balanced at scale.
   */
  def sample(df: DataFrame, idCol: String, sessionCol: String, tsSecCol: String,
             speedCol: String, stateCol: String, dayCol: String,
             fastSpeedThreshold: Double, fastIntervalSec: Long,
             slowIntervalSec: Long, rowKeyCol: String): DataFrame = {
    val bucketLen = when(coalesce(col(speedCol), lit(0.0)) >= fastSpeedThreshold,
      fastIntervalSec).otherwise(slowIntervalSec)
    val withBucket = df.withColumn("bucket_move", floor(col(tsSecCol) / bucketLen))

    // deterministic first/last = min/max of (ts, rowKey) struct
    val ord = struct(col(tsSecCol), col(rowKeyCol))
    val wMove = Window.partitionBy(col(idCol), col(sessionCol), col("bucket_move"))
    val wDay = Window.partitionBy(col(idCol), col(dayCol))

    val moving = col(stateCol) =!= "anchored"
    val keep =
      (moving && (ord === min(ord).over(wMove) || ord === max(ord).over(wMove))) ||
        (!moving && (ord === min(when(moving, null).otherwise(ord)).over(wDay) ||
          ord === max(when(moving, null).otherwise(ord)).over(wDay))) ||
        ord === min(ord).over(wDay) || ord === max(ord).over(wDay)

    withBucket.withColumn("keep", keep)
      .filter(col("keep"))
      .drop("bucket_move", "keep")
  }

  /**
   * Geofence tagging: tag each point with every zone (circle: center +
   * radius km) whose great-circle distance contains it — port areas,
   * anchorages, traffic lanes. One row per (point, zone) match, so an
   * overlap tags twice; points in no zone drop out (inner join — use
   * [[zoneRollup]] for per-zone stats).
   *
   * The zone table is SMALL BY CONTRACT (a port list, not a corpus) and
   * broadcasts: the points side never shuffles, the membership predicate
   * ([[graft.functions.Geo.haversineKm]] ≤ radius) runs in codegen
   * inside the broadcast join. At 100 TB this is a map-only pass.
   */
  def zoneTag(points: DataFrame, zones: DataFrame,
              latCol: String, lonCol: String): DataFrame =
    points.join(broadcast(zones),
      Geo.haversineKm(col(latCol), col(lonCol),
        col("zone_lat"), col("zone_lon")) <= col("radius_km"))

  /** Per-zone rollup of [[zoneTag]]: points, distinct entities, and the
   * zone's observed time span — one partial-agg'd groupBy on the zone. */
  def zoneRollup(points: DataFrame, zones: DataFrame, latCol: String,
                 lonCol: String, entityCol: String, tsSecCol: String): DataFrame =
    zoneTag(points, zones, latCol, lonCol)
      .groupBy("zone")
      .agg(count(lit(1)).as("n_points"),
        countDistinct(col(entityCol)).as("n_entities"),
        min(tsSecCol).as("first_sec"), max(tsSecCol).as("last_sec"))

  /**
   * Douglas–Peucker trajectory simplification — the SHAPE-preserving
   * alternative to row 16's every-Nth downsampling (which happily
   * deletes the one point where the vessel actually turned): keep a
   * point iff dropping it moves the polyline by more than `epsilon`.
   * The recursive textbook form splits at the max-deviation point per
   * segment; here the recursion is LEVEL-SYNCHRONOUS so all
   * trajectories and all segments advance together: every round, each
   * surviving segment finds its max-deviation interior point in ONE
   * partial-agg'd groupBy over (keys, segment), over-epsilon splits
   * broadcast back (split decisions are ≤ one row per segment — kept-
   * point-sized, never point-sized), and each point map-side adopts its
   * new half. Rounds needed = depth of the split TREE (≤ log n for
   * real tracks, worst O(n) on adversarial monotone spirals — `maxIter`
   * is the loud bound, throwing rather than returning an unsimplified
   * segment silently).
   *
   * Geometry is planar on the supplied (x, y) — for lon/lat tracks at
   * ship scale the equirectangular error is far below any useful
   * epsilon; pass projected coordinates when it is not. Deviation from
   * a ZERO-LENGTH chord (a loop: segment endpoints at identical coords)
   * degrades to point distance from the endpoint — the standard DP
   * degenerate-case treatment. Duplicate order values are a caller
   * error (require a total per-trajectory order, e.g. a timestamp with
   * a tiebreak already folded in). Output: the kept points, original
   * columns preserved.
   */
  def simplify(df: DataFrame, keyCols: Seq[String], orderCol: String,
               xCol: String, yCol: String, epsilon: Double,
               maxIter: Int = 40,
               checkpointDir: Option[String] = None): DataFrame = {
    require(keyCols.nonEmpty, "simplify needs trajectory keys")
    require(epsilon >= 0, s"epsilon must be >= 0, got $epsilon")
    val kc = keyCols.map(col)
    val w = Window.partitionBy(kc: _*)
    val o = col(orderCol)
    // init: one segment per trajectory, spanning first..last point
    val pts0 = graft.Fixpoint.input(df
      .withColumn("_so", min(o).over(w))
      .withColumn("_eo", max(o).over(w))
      .withColumn("_sx", min(struct(o, col(xCol))).over(w).getField(xCol))
      .withColumn("_sy", min(struct(o, col(yCol))).over(w).getField(yCol))
      .withColumn("_ex", max(struct(o, col(xCol))).over(w).getField(xCol))
      .withColumn("_ey", max(struct(o, col(yCol))).over(w).getField(yCol))
      .withColumn("_kept", o === col("_so") || o === col("_eo")), checkpointDir)
    // per segment: the max-deviation interior point over epsilon (ties →
    // lowest order) — the split decisions; none left means done
    def splitsOf(pts: DataFrame): DataFrame = {
      val x = col(xCol); val y = col(yCol)
      val dx = col("_ex") - col("_sx"); val dy = col("_ey") - col("_sy")
      val chord = sqrt(dx * dx + dy * dy)
      val dev = when(chord === 0.0,
        sqrt((x - col("_sx")) * (x - col("_sx")) +
          (y - col("_sy")) * (y - col("_sy"))))
        .otherwise(abs(dx * (col("_sy") - y) - (col("_sx") - x) * dy) / chord)
      pts.filter(!col("_kept"))
        .withColumn("_dev", dev)
        .filter(col("_dev") > epsilon)
        .groupBy(kc :+ col("_so").as("_so"): _*)
        .agg(max(struct(col("_dev"), (-o).as("_no"), o.as("_o"),
          x.as("_x"), y.as("_y"))).as("_m"))
        .select(kc ++ Seq(col("_so"), col("_m._o").as("_po"),
          col("_m._x").as("_px"), col("_m._y").as("_py")): _*)
    }
    // state: (points, their split decisions)
    val (pts, _) = graft.Fixpoint.iterate("simplify", (pts0, splitsOf(pts0)),
        checkpointDir)(graft.Fixpoint.Converge(maxIter, _._2.isEmpty)) {
      case ((pts, splits), _, cut) =>
        // split decisions are segment-sized (≤ kept points) — an
        // equi-join on (keys, _so); AQE picks broadcast when the frame is
        // small. Each point adopts its half map-side: left of the split
        // keeps (s → p), right takes (p → e), the split point is kept.
        val next = cut(
          pts.join(splits, keyCols :+ "_so", "left")
            .select((df.columns.map(col) ++ Seq(
              when(col("_po").isNotNull && o > col("_po"), col("_po"))
                .otherwise(col("_so")).as("_so"),
              when(col("_po").isNotNull && o < col("_po"), col("_po"))
                .otherwise(col("_eo")).as("_eo"),
              when(col("_po").isNotNull && o > col("_po"), col("_px"))
                .otherwise(col("_sx")).as("_sx"),
              when(col("_po").isNotNull && o > col("_po"), col("_py"))
                .otherwise(col("_sy")).as("_sy"),
              when(col("_po").isNotNull && o < col("_po"), col("_px"))
                .otherwise(col("_ex")).as("_ex"),
              when(col("_po").isNotNull && o < col("_po"), col("_py"))
                .otherwise(col("_ey")).as("_ey"),
              (col("_kept") || (col("_po").isNotNull && o === col("_po")))
                .as("_kept"))): _*))
        (next, splitsOf(next))
    }
    pts.filter(col("_kept"))
      .select(df.columns.map(col): _*)
  }
}
