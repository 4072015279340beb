package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Overlap

/** Incremental pipeline refresh — the capability the reference CLAIMS
  * ("incremental processing", README.md:75) but implements as a full
  * overwrite every run. Folds a delta batch (e.g. one new month of
  * flights) into the warehouse without rebuilding history.
  *
  * Strategy = AFFECTED-PARTITION RECOMPUTE:
  *   1. the delta's fact rows land in `gold/fact_flights` via dynamic
  *      partition overwrite on DATE_KEY (re-delivering a day replaces
  *      that day — idempotent at day grain);
  *   2. the (YEAR, MONTH) mart partitions touched by the delta are
  *      recomputed FROM THE FACT TABLE and swapped in with dynamic
  *      overwrite; untouched history is never read or written —
  *      DATE_KEY partition pruning keeps the recompute's scan
  *      proportional to the touched months, not to history.
  *
  * Why recompute-the-partition instead of algebraic merge: the marts
  * deliberately keep the reference's schema, which stores AVERAGES and
  * ratio KPIs (Marts.scala) — non-additive, so a pure delta fold would
  * need the mart schema changed to sums+counts. That additive fold
  * exists as `operators.IncrementalAgg` (one full-outer join, never
  * rereads facts) and is the right tool for sum/count marts; here the
  * month partition is the natural recompute unit and late-arriving
  * rows for an old month just make that month's partition recompute.
  *
  * Dims are rebuilt from the full silver table: they are distinct/
  * rollup aggregates whose output is tiny, and dim_route's popularity
  * tiers are frequency-over-history — a delta-only rebuild would
  * misclassify. One cheap scan, map-side-combined.
  *
  * IDEMPOTENT at every layer since round 5. Silver re-delivery is an
  * insert-if-absent MERGE on the natural flight key: the delta is
  * anti-joined against the existing silver keys before the append, so
  * the same batch applied twice appends nothing the second time. This
  * is deliberately NOT the copy-on-write upsert
  * (`core.VersionedTable.merge`, which rewrites the whole snapshot):
  * at 100 TB a re-delivered month must cost O(delta) — one broadcast-
  * able key anti-join and an append — not a history rewrite. True
  * row UPDATES (changed values for an existing key) are out of the
  * re-delivery contract and remain VersionedTable.merge territory.
  *
  * Fact consistency: the touched DATE_KEY partitions are rebuilt from
  * the MERGED silver (not from the raw delta), so a day delivered
  * across several deltas converges to silver's union for that day —
  * previously delta-only day overwrite could diverge from silver.
  * Silver is partitioned by AIRLINE_CODE, but its partitions are
  * sorted within by FLIGHT_DATE, so the touched-date filter prunes at
  * parquet row-group grain rather than rescanning history.
  *
  * Every table touched here, with its partitioning and write shaping,
  * is the [[Warehouse]] entry the batch stages write, so a fold and a
  * full rebuild produce the same layout; folded source files are
  * recorded in [[Warehouse.foldLog]], a `core.MarkerLog`. The dims are
  * published as one unit (`Warehouse.Dims.publish`, no gate, the five
  * writes at once) and the published tables feed the fact rebuild and
  * the mart refresh, so each dim aggregate over silver runs once.
  *
  * Writes that do not depend on each other overlap (`core.Overlap`):
  * the silver append runs beside the touched-date collect, which reads
  * only the cached delta, and the three mart partition refreshes run
  * at once.
  *
  * Gating: `gate` runs the silver suite over the rows about to be
  * appended (the delta after the key anti-join) before anything is
  * written, so a gate that throws leaves silver, fact and marts as they
  * were. Under a suite that demands rows (the silver suite's
  * `rowCountBetween(1)`), a re-delivered batch with nothing new fails
  * that gate and writes nothing.
  */
object Incremental {

  /** Natural identity of one scheduled flight leg — the merge key for
    * re-delivered batches (same grain the reference's data implies:
    * one row per airline/number/origin/scheduled-departure per day).
    */
  val silverNaturalKey: Seq[String] = Seq(
    "FLIGHT_DATE", "AIRLINE_CODE", "FLIGHT_NUMBER",
    "ORIGIN_AIRPORT_CODE", "PLANNED_DEPARTURE_TIME")

  /** Ingest a delta CSV through bronze → silver → fact and refresh the
    * affected mart partitions. Returns the touched yyyyMM months.
    */
  def run(spark: SparkSession, wh: String, deltaFlightsCsv: String,
      airportsCsv: String, carriersCsv: String,
      gate: Warehouse.Gate = Warehouse.noGate): Seq[Int] = {
    val bronzeDelta = Bronze.ingest(spark, deltaFlightsCsv, airportsCsv, carriersCsv)
    // delta-sized and used by several actions (the gate, the merge-
    // append and the touched-date enumeration) — persist so the bronze
    // CSV scan and silver transform run once, not per action
    val silverDelta = Silver.transform(bronzeDelta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // insert-if-absent merge: only rows whose natural key is new reach
    // the append. The existing-key side is key-columns-only (column-
    // pruned scan); the join is delta ⋈ keys, never history × history.
    val fresh =
      if (!Warehouse.silver.exists(spark, wh)) silverDelta
      else {
        val existingKeys = Warehouse.silver.read(spark, wh)
          .select(silverNaturalKey.map(c => col(c).as(s"__ek_$c")): _*)
        // NULL-SAFE key equality: the pipeline produces NULL key
        // columns by design (unparseable FL_DATE, missing scheduled
        // times), and a plain equi anti-join would re-append those
        // rows on every re-delivery — exactly the idempotency hole
        // this merge exists to close
        silverDelta.join(existingKeys,
          silverNaturalKey.map(c => silverDelta(c) <=> col(s"__ek_$c"))
            .reduce(_ && _),
          "left_anti")
      }
    // The date list is a bounded partition enumeration (≤ the delta's
    // distinct days); the touched months derive from the SAME driver-
    // side list, so the fact-build lineage is never re-executed just
    // to enumerate months. The cache is released on every path, before
    // the dims and fact rebuild.
    val touchedDates =
      try {
        Warehouse.silver.gate(gate, fresh)
        Overlap.beside(Seq(() => Warehouse.silver.append(fresh, wh))) {
          silverDelta.select(col("FLIGHT_DATE"))
            .distinct().collect().map(_.getDate(0)).toSeq
        }
      } finally silverDelta.unpersist(blocking = false)

    // dims: tiny outputs, rebuilt from full silver (see object doc)
    val silver = Warehouse.silver.read(spark, wh)
    val dims = Warehouse.dims(spark, silver).publish(wh)

    // fact rebuild for the touched days FROM MERGED SILVER (see object
    // doc)
    Warehouse.fact.overwritePartitions(
      dims.fact(silver.filter(col("FLIGHT_DATE").isin(touchedDates: _*))), wh)

    val months = touchedDates.filter(_ != null).map { d =>
      val ld = d.toLocalDate
      ld.getYear * 100 + ld.getMonthValue
    }.distinct.sorted
    refreshMarts(spark, wh, months, dims)
  }

  /** Stream-ingest → incremental handoff: fold every CSV in `watchDir`
    * that has not been folded yet through [[run]], recording each in
    * the warehouse's fold log (`Warehouse.foldLog`, a
    * `core.MarkerLog` at `bronze/_folded_files`). Returns (file,
    * touched months) per newly folded file.
    *
    * This is the batch half of the streaming story: the checkpointed
    * `streaming.StreamIngest` run lands raw rows exactly-once in the
    * stream-bronze audit table, and this fold advances the warehouse
    * for the same files. A crash between run() and the marker create
    * re-folds that file on the next invocation — harmless, because
    * re-delivery is a natural-key-merge no-op (see object doc), so the
    * end result is exactly-once without coordination.
    */
  def foldNewFiles(spark: SparkSession, wh: String, watchDir: String,
      airportsCsv: String, carriersCsv: String): Seq[(String, Seq[Int])] =
    Warehouse.foldLog(spark, wh).foldNew(watchDir, ".csv") { p =>
      p.toString -> run(spark, wh, p.toString, airportsCsv, carriersCsv)
    }

  /** Recompute and swap in the mart partitions for the given yyyyMM
    * months (already enumerated on the driver — a DataFrame-derived
    * month list here would re-execute the caller's whole fact-build
    * lineage just to collect a handful of ints). The recompute reads
    * those months from the fact table, so previously loaded days of a
    * touched month are included.
    */
  def refreshMarts(spark: SparkSession, wh: String, months: Seq[Int],
      dims: Warehouse.Dims): Seq[Int] = {
    if (months.isEmpty) return months

    // month ranges as a partition-prunable predicate on DATE_KEY
    val monthFacts = Warehouse.fact.read(spark, wh).filter(
      months.map(ym => col("DATE_KEY").between(ym * 100L + 1, ym * 100L + 31))
        .reduce(_ || _))
    Overlap.together(Warehouse.marts.map(m => () =>
      m.table.overwritePartitions(m.build(monthFacts, dims), wh)))
    months
  }
}
