package graft

import org.apache.spark.sql.functions._
import graft.meta._
import graft.table.TsTable

/** Prune-matrix parity with the reference's DataFusion-layer tests
  * (ts_table_provider/tests.rs + tests/ts_table_provider_tests.rs, §5
  * layer 3): prune on >, >=, <, <=, =, BETWEEN, IN, OR, NOT; NO prune on
  * !=, NOT IN, unrecognized predicates; transform comparisons
  * (date_trunc / to_date / ts ± interval) prune AND return correct rows;
  * multi-segment min/max; empty tables; count(*). All measured via the
  * physical scan's numFiles metric so the test observes the real plan. */
class PruneMatrixSpec extends SparkFunSuite {

  import org.apache.spark.sql.DataFrame

  private def filesRead(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles").map(_.value)).sum
  }

  // two files: hours [10:00,11:00) and [12:00,13:00) on 2024-03-01
  private lazy val table: TsTable = {
    import spark.implicits._
    val root = tmpDir("prune-matrix")
    val t = TsTable.create(root, TableMeta("prices",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)), None, None))
    def hourDf(h: Int) =
      (0 until 60).map(m => (s"2024-03-01 %02d:%02d:00".format(h, m), h * 100.0 + m))
        .toDF("tss", "price")
        .select(to_timestamp(col("tss")).as("ts"), col("price"))
    t.append(hourDf(10).coalesce(1))
    t.append(hourDf(12).coalesce(1))
    t
  }

  private def scan = table.scan(spark)
  private def ts(s: String) = to_timestamp(lit(s))

  test("prune on comparison operators") {
    assert(filesRead(scan.where(col("ts") > ts("2024-03-01 11:30:00"))) == 1)
    assert(filesRead(scan.where(col("ts") >= ts("2024-03-01 12:00:00"))) == 1)
    assert(filesRead(scan.where(col("ts") < ts("2024-03-01 11:00:00"))) == 1)
    assert(filesRead(scan.where(col("ts") <= ts("2024-03-01 10:30:00"))) == 1)
    assert(filesRead(scan.where(col("ts") === ts("2024-03-01 12:15:00"))) == 1)
    // flipped literal side
    assert(filesRead(scan.where(ts("2024-03-01 11:30:00") > col("ts"))) == 1)
  }

  test("prune on BETWEEN / NOT BETWEEN / IN / OR / NOT") {
    assert(filesRead(scan.where(col("ts").between(
      ts("2024-03-01 09:00:00"), ts("2024-03-01 10:30:00")))) == 1)
    assert(filesRead(scan.where(!col("ts").between(
      ts("2024-03-01 00:00:00"), ts("2024-03-01 11:00:00")))) == 1)
    assert(filesRead(scan.where(col("ts").isin(
      java.sql.Timestamp.valueOf("2024-03-01 12:30:00")))) == 1)
    assert(filesRead(scan.where(
      col("ts") < ts("2024-03-01 09:00:00") || col("ts") > ts("2024-03-01 12:30:00"))) == 1)
    assert(filesRead(scan.where(!(col("ts") >= ts("2024-03-01 11:00:00")))) == 1)
  }

  test("no prune on != / NOT IN / unrecognized predicates (sound)") {
    assert(filesRead(scan.where(col("ts") =!= ts("2024-03-01 10:30:00"))) == 2)
    assert(filesRead(scan.where(!col("ts").isin(
      java.sql.Timestamp.valueOf("2024-03-01 10:30:00")))) == 2)
    assert(filesRead(scan.where(hash(col("ts")) > 0 || hash(col("ts")) <= 0)) == 2)
  }

  test("date_trunc comparisons prune files and return correct rows") {
    val q = scan.where(date_trunc("hour", col("ts")) === ts("2024-03-01 12:00:00"))
    assert(q.count() == 60)
    assert(filesRead(q) == 1)
    // unaligned Eq literal is impossible -> 0 files
    val q2 = scan.where(date_trunc("hour", col("ts")) === ts("2024-03-01 12:30:00"))
    assert(q2.count() == 0)
    assert(filesRead(q2) == 0)
    val q3 = scan.where(date_trunc("minute", col("ts")) >= ts("2024-03-01 12:59:00"))
    assert(q3.count() == 1)
    assert(filesRead(q3) == 1)
    val q4 = scan.where(date_trunc("hour", col("ts")) < ts("2024-03-01 11:00:00"))
    assert(q4.count() == 60)
    assert(filesRead(q4) == 1)
  }

  test("to_date comparisons prune (whole table is one day)") {
    val q = scan.where(to_date(col("ts")) === lit(java.sql.Date.valueOf("2024-03-01")))
    assert(q.count() == 120 && filesRead(q) == 2)
    val q2 = scan.where(to_date(col("ts")) === lit(java.sql.Date.valueOf("2024-03-02")))
    assert(q2.count() == 0 && filesRead(q2) == 0)
    val q3 = scan.where(to_date(col("ts")) < lit(java.sql.Date.valueOf("2024-03-01")))
    assert(q3.count() == 0 && filesRead(q3) == 0)
  }

  test("ts ± interval comparisons prune") {
    // ts + 2h > 14:30  ≡  ts > 12:30 → second file only
    val q = scan.where(col("ts") + expr("INTERVAL 2 HOURS") > ts("2024-03-01 14:30:00"))
    assert(q.count() == 29)
    assert(filesRead(q) == 1)
  }

  test("unix epoch family comparisons prune") {
    val epoch12 = java.time.Instant.parse("2024-03-01T12:00:00Z").getEpochSecond
    val q = scan.where(unix_timestamp(col("ts")) >= lit(epoch12))
    assert(q.count() == 60 && filesRead(q) == 1)
    val q2 = scan.where(unix_seconds(col("ts")) < lit(epoch12 - 3600))
    assert(q2.count() == 60 && filesRead(q2) == 1)
    val q3 = scan.where(unix_micros(col("ts")) === lit(epoch12 * 1000000L + 900L * 1000000L))
    assert(q3.count() == 1 && filesRead(q3) == 1)
    val q4 = scan.where(unix_millis(col("ts")) > lit((epoch12 + 3600) * 1000L))
    assert(q4.count() == 0 && filesRead(q4) == 0)
  }

  test("window() bucket comparisons prune files and return correct rows") {
    // the Spark analog of the reference's date_bin pruning
    // (time_predicate.rs:513-551, 1017-1104): TimeWindowing rewrites
    // window(ts, w).start into floorMod arithmetic we compile to bounds
    // the filter's output keeps the projected window struct (Spark's
    // TimeWindowing shape); select the data columns for the collect
    val w = window(col("ts"), "5 minutes")
    val q1 = scan.where(w("start") === ts("2024-03-01 12:15:00")).select("ts", "price")
    assert(q1.count() == 5 && filesRead(q1) == 1)
    val q2 = scan.where(w("start") < ts("2024-03-01 11:00:00")).select("ts", "price")
    assert(q2.count() == 60 && filesRead(q2) == 1)
    val q3 = scan.where(w("end") <= ts("2024-03-01 11:00:00")).select("ts", "price")
    assert(q3.count() == 60 && filesRead(q3) == 1)
    // equality on a non-grid-aligned literal is provably empty
    val q4 = scan.where(w("start") === ts("2024-03-01 12:17:00")).select("ts", "price")
    assert(q4.count() == 0 && filesRead(q4) == 0)
    // custom slide origin via startTime
    val q5 = scan.where(window(col("ts"), "5 minutes", "5 minutes", "2 minutes")("start") ===
      ts("2024-03-01 12:12:00")).select("ts", "price")
    assert(q5.count() == 5 && filesRead(q5) == 1)
  }

  test("date_bin comparisons prune (name-level parity with the reference's date_bin)") {
    graft.functions.GraftFunctions.register(spark)
    // epoch-anchored 5-minute bins: Eq on a bin start confines ts to
    // [12:15, 12:20) — second file only
    val q1 = scan.where(expr(
      "date_bin(INTERVAL 5 MINUTES, ts, TIMESTAMP '1970-01-01 00:00:00') = TIMESTAMP '2024-03-01 12:15:00'"))
    assert(q1.count() == 5 && filesRead(q1) == 1)
    // Eq on a non-grid-aligned literal is provably empty — 0 files
    val q2 = scan.where(expr(
      "date_bin(INTERVAL 5 MINUTES, ts, TIMESTAMP '1970-01-01 00:00:00') = TIMESTAMP '2024-03-01 12:16:00'"))
    assert(q2.count() == 0 && filesRead(q2) == 0)
    // origin-anchored grid: origin 00:02 shifts the bins by 2 minutes
    val q3 = scan.where(expr(
      "date_bin(INTERVAL 5 MINUTES, ts, TIMESTAMP '2024-03-01 00:02:00') = TIMESTAMP '2024-03-01 12:12:00'"))
    assert(q3.count() == 5 && filesRead(q3) == 1)
    // range op through hour bins prunes to the hour-10 file
    val q4 = scan.where(expr(
      "date_bin(INTERVAL 1 HOUR, ts, TIMESTAMP '1970-01-01 00:00:00') < TIMESTAMP '2024-03-01 11:00:00'"))
    assert(q4.count() == 60 && filesRead(q4) == 1)
    // the rewrite is exact (two-way), so NOT prunes soundly too
    val qNot = scan.where(!expr(
      "date_bin(INTERVAL 5 MINUTES, ts, TIMESTAMP '1970-01-01 00:00:00') = TIMESTAMP '2024-03-01 12:15:00'"))
    assert(qNot.count() == 115 && filesRead(qNot) == 2)
  }

  test("integral-div epoch binning prunes with exact truncation semantics") {
    val b1215 = java.time.Instant.parse("2024-03-01T12:15:00Z").getEpochSecond * 1000000L / 300000000L
    val q1 = scan.where(expr(s"unix_micros(ts) div 300000000 = $b1215"))
    assert(q1.count() == 5 && filesRead(q1) == 1)
    val h10 = java.time.Instant.parse("2024-03-01T10:00:00Z").getEpochSecond / 3600L
    val q2 = scan.where(expr(s"unix_seconds(ts) div 3600 = $h10"))
    assert(q2.count() == 60 && filesRead(q2) == 1)
    val q3 = scan.where(expr(s"unix_micros(ts) div 300000000 < $b1215"))
    assert(q3.count() == 60 + 15 && filesRead(q3) == 2)
    val q4 = scan.where(expr(s"unix_micros(ts) div 300000000 > ${h10 * 12 + 100000}"))
    assert(q4.count() == 0 && filesRead(q4) == 0)
  }

  test("floor(epoch/S) double binning prunes one-bucket-padded, stays one-way") {
    val b1215 = java.time.Instant.parse("2024-03-01T12:15:00Z").getEpochSecond * 1000000L / 300000000L
    val q1 = scan.where(expr(s"floor(unix_micros(ts) / 300000000) = $b1215"))
    assert(q1.count() == 5 && filesRead(q1) == 1)
    // a 5-min bucket inside hour 12 still prunes the hour-10 file even
    // with the one-bucket pad; the padded rewrite is necessary-only, so
    // NOT must not prune through it
    val qNot = scan.where(!(expr(s"floor(unix_micros(ts) / 300000000) = $b1215")))
    assert(qNot.count() == 115 && filesRead(qNot) == 2)
  }

  test("pre-epoch binning: div truncates toward zero, floor floors — both exact") {
    import spark.implicits._
    val root = tmpDir("prune-preepoch")
    val t = TsTable.create(root, TableMeta("prices",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)), None, None))
    def minuteDf(day: String, h: Int, mFrom: Int, mTo: Int) =
      (mFrom to mTo).map(m => (f"$day $h%02d:$m%02d:00", m * 1.0)).toDF("tss", "price")
        .select(to_timestamp(col("tss")).as("ts"), col("price"))
    t.append(minuteDf("1969-12-31", 23, 0, 59).coalesce(1))
    t.append(minuteDf("1970-01-01", 1, 0, 59).coalesce(1))
    val s = t.scan(spark)
    // 23:30:00Z = -1800 s; trunc(-1.8e9 / 3e8) = -6 exactly. Truncation
    // bucket -6 = (-2100 s, -1800 s] -> minutes 26..30 (5 rows)
    val qd = s.where(expr("unix_micros(ts) div 300000000 = -6"))
    assert(qd.count() == 5 && filesRead(qd) == 1)
    assert(qd.select(min(col("ts")).cast("string")).head.getString(0) == "1969-12-31 23:26:00")
    // floor bucket -6 = [-1800 s, -1500 s) -> minutes 30..34 (5 rows)
    val qf = s.where(expr("floor(unix_micros(ts) / 300000000) = -6"))
    assert(qf.count() == 5 && filesRead(qf) == 1)
    assert(qf.select(min(col("ts")).cast("string")).head.getString(0) == "1969-12-31 23:30:00")
    // window() is floor-aligned across the epoch too
    val qw = s.where(window(col("ts"), "5 minutes")("start") === ts("1969-12-31 23:30:00"))
      .select("ts", "price")
    assert(qw.count() == 5 && filesRead(qw) == 1)
  }

  test("month-bearing interval comparisons prune through [28,31]-day widening") {
    // actual ts+1month = 2024-04-01 10:00..13:00; k−31d = 2024-03-02 11:30
    // exceeds every ts -> both files provably out
    val far = scan.where(col("ts") + expr("INTERVAL 1 MONTH") > ts("2024-04-02 11:30:00"))
    assert(far.count() == 0 && filesRead(far) == 0)
    // k−31d = 2024-02-28: widening keeps everything, rows all match
    val all = scan.where(col("ts") + expr("INTERVAL 1 MONTH") > ts("2024-03-30 00:00:00"))
    assert(all.count() == 120 && filesRead(all) == 2)
    // near the widened boundary the filter cannot prune (sound, not exact):
    // k−28d = 03-04, k−31d = 03-01 10:30 splits the files' range
    val gray = scan.where(col("ts") + expr("INTERVAL 1 MONTH") > ts("2024-04-01 10:30:00"))
    assert(gray.count() == 29 * 1 + 60) // 10:31..10:59 + hour 12
    assert(filesRead(gray) == 2)
  }

  test("calendar-unit date_trunc (week/month) prunes under UTC") {
    val q = scan.where(date_trunc("month", col("ts")) === ts("2024-03-01 00:00:00"))
    assert(q.count() == 120 && filesRead(q) == 2)
    val q2 = scan.where(date_trunc("month", col("ts")) === ts("2024-02-01 00:00:00"))
    assert(q2.count() == 0 && filesRead(q2) == 0)
    // 2024-03-01 is a Friday; its ISO week starts Monday 2024-02-26
    val q3 = scan.where(date_trunc("week", col("ts")) === ts("2024-02-26 00:00:00"))
    assert(q3.count() == 120 && filesRead(q3) == 2)
    val q4 = scan.where(date_trunc("week", col("ts")) >= ts("2024-03-04 00:00:00"))
    assert(q4.count() == 0 && filesRead(q4) == 0)
  }

  test("Olson-zone session: zoned trunc/to_date bounds prune with DST pad, rows stay correct") {
    scan.count() // force table build under UTC before switching the session zone
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      // all data is 2024-03-01 05:00-08:00 NY time
      val q = scan.where(date_trunc("day", col("ts")) === ts("2024-03-01 00:00:00"))
      assert(q.count() == 120 && filesRead(q) == 2)
      val q2 = scan.where(date_trunc("day", col("ts")) === ts("2024-02-28 00:00:00"))
      assert(q2.count() == 0 && filesRead(q2) == 0)
      val q3 = scan.where(to_date(col("ts")) < lit(java.sql.Date.valueOf("2024-03-01")))
      assert(q3.count() == 0 && filesRead(q3) == 0)
      val q4 = scan.where(to_date(col("ts")) === lit(java.sql.Date.valueOf("2024-03-01")))
      assert(q4.count() == 120 && filesRead(q4) == 2)
      // day-time interval (exact 48 h) under an Olson zone: data+48h is
      // 2024-03-03 05:00-08:00 NY, all past 04:30
      val q5 = scan.where(col("ts") + expr("INTERVAL 2 DAYS") > ts("2024-03-03 04:30:00"))
      assert(q5.count() == 120 && filesRead(q5) == 2)
      val q6 = scan.where(col("ts") + expr("INTERVAL 2 DAYS") < ts("2024-03-01 00:00:00"))
      assert(q6.count() == 0 && filesRead(q6) == 0)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("day-skip zone (Pacific/Apia 2011): calendar-day shift stays sound under the 26h pad") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Pacific/Apia")
    try {
      // Apia skipped local 2011-12-30 entirely (UTC-11 -> UTC+13, a 24h
      // offset jump). Local Dec 28 + 3 calendar days = local Dec 31 =
      // only 48h of absolute time — the old 4h pad pruned every matching
      // row; the 26h pad must keep the file.
      val root = tmpDir("prune-apia")
      val t = TsTable.create(root, TableMeta("apia",
        TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)), None, None))
      t.append((0 until 60).map(m => f"2011-12-28 10:$m%02d:00").toDF("tss")
        .select(to_timestamp(col("tss")).as("ts"), lit(1.0).as("price")).coalesce(1))
      val sc = t.scan(spark)
      // make_interval days are CALENDAR days (the CalendarInterval branch)
      val shifted = sc.where(col("ts") + expr("make_interval(0, 0, 0, 3)") <=
        ts("2011-12-31 10:30:00"))
      assert(shifted.count() == 31,
        "calendar-day shift across the skipped day dropped matching rows (pad too small)")
      assert(filesRead(shifted) == 1)
      // far bound still prunes (0 files) and is genuinely empty
      val far = sc.where(col("ts") + expr("make_interval(0, 0, 0, 3)") <=
        ts("2011-12-29 00:00:00"))
      assert(far.count() == 0 && filesRead(far) == 0)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("padded/widened rewrites are one-way: Not()/!= must not prune through them") {
    scan.count() // force table build under UTC
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      // every row lies inside the padded NY day bucket, so the Eq rewrite
      // is AlwaysTrue-as-necessary-condition; flipping it through != must
      // yield Unknown (read both files), not an unsound prune
      val q = scan.where(date_trunc("day", col("ts")) =!= ts("2024-03-01 00:00:00"))
      assert(q.count() == 0)
      assert(filesRead(q) == 2, "padded Eq leaked AlwaysTrue through Not — unsound prune")
      val q2 = scan.where(!(col("ts") + expr("INTERVAL 1 MONTH") > ts("2024-03-30 00:00:00")))
      assert(q2.count() == 0)
      assert(filesRead(q2) == 2, "widened interval leaked AlwaysTrue through Not")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("day-skip zone (Pacific/Apia 2011): NTZ -> TIMESTAMP cast keeps the rows after the gap") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.session.timeZone")
    val t = TsTable.create(tmpDir("prune-apia-ntz"), TableMeta("apia_ntz",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)), None, None))
    t.append((0 to 20).map(h => f"2011-12-31 $h%02d:00:00").toDF("tss")
      .select(col("tss").cast("timestamp_ntz").as("ts"), lit(1.0).as("price")).coalesce(1))
    spark.conf.set("spark.sql.session.timeZone", "Pacific/Apia")
    try {
      // local 2011-12-30 never happened in Apia: local -> instant drops a
      // whole day across it, so the file's min converts 24 h below any
      // point a 4 h pad reaches inside the gap
      val early = expr("ts < TIMESTAMP '2011-12-31 12:00:00'")
      val q = t.scan(spark).where(early)
      assert(q.count() == 12 && filesRead(q) == 1)
      // a row-level verb prunes the same optimized predicate as the scan
      graft.maintain.DeleteWhere.delete(spark, t, early)
      assert(t.scan(spark).count() == 9, "NTZ -> TIMESTAMP bounds dropped rows after the skipped day")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("transform pruning is sound against Catalyst's own eval (fixed seeds, five zones, both timestamp types)") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.scan.StatsPruning
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    scan.count() // build the table under UTC
    val ntzT = TsTable.create(tmpDir("prune-prop-ntz"), TableMeta("prop_ntz",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)), None, None))
    ntzT.append(Seq("2024-03-01 10:00:00").toDF("tss")
      .select(col("tss").cast("timestamp_ntz").as("ts"), lit(1.0).as("price")))
    val ntzScan = ntzT.scan(spark)
    val transforms = Seq(
      "date_trunc('hour', ts)", "date_trunc('day', ts)", "date_trunc('week', ts)",
      "date_trunc('month', ts)", "date_trunc('quarter', ts)", "to_date(ts)",
      "CAST(ts AS TIMESTAMP_NTZ)", "ts + INTERVAL 2 HOURS", "ts - INTERVAL 3 DAYS",
      "ts + INTERVAL 1 MONTH", "ts + make_interval(0, 1, 0, 3)", "ts + make_interval(0, 0, 0, 1, 2)",
      "unix_timestamp(ts)", "unix_seconds(ts)", "unix_millis(ts)", "unix_micros(ts)",
      "unix_micros(ts) div 300000000", "floor(unix_micros(ts) / 300000000)",
      "window(ts, '5 minutes').start", "window(ts, '1 hour', '1 hour', '7 minutes').start",
      "window(ts, '5 minutes').end",
      "date_bin(INTERVAL 5 MINUTES, ts, TIMESTAMP '1970-01-01 00:02:00')",
      "date_bin(INTERVAL 1 DAY, ts, TIMESTAMP '2000-01-01 00:00:00')")
    // on an NTZ column: local -> instant (the cast Catalyst inserts when
    // it meets a TIMESTAMP function or literal) and zone-free nodes
    val ntzTransforms = Seq(
      "CAST(ts AS TIMESTAMP)", "date_trunc('hour', ts)", "date_trunc('day', ts)",
      "unix_timestamp(ts)", "to_date(ts)", "ts + INTERVAL 1 MONTH", "ts - INTERVAL 3 DAYS")
    val ops: Seq[(Expression, Expression) => Expression] = Seq(EqualTo, LessThan,
      LessThanOrEqual, GreaterThan, GreaterThanOrEqual, EqualNullSafe, (l, r) => Not(EqualTo(l, r)))
    val zones = Seq("UTC", "+05:30", "America/New_York", "Pacific/Apia", "Pacific/Kwajalein")

    // one optimized `f(ts) = k` per (zone, transform): the conjuncts the
    // file index sees, with the comparison split into its two sides. The
    // optimizer would rewrite `to_date(ts) = k` into a plain ts range, so
    // that rule is off while the predicates are built.
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.UnwrapCastInBinaryComparison")
    val preds = try zones.flatMap { z =>
      spark.conf.set("spark.sql.session.timeZone", z)
      (transforms.map(scan -> _) ++ ntzTransforms.map(ntzScan -> _)).map { case (scan, f) =>
        val k = scan.selectExpr(s"$f AS v").schema("v").dataType.sql match {
          case "DATE" => "DATE '2000-01-01'"
          case "TIMESTAMP" => "TIMESTAMP '2000-01-01 00:00:00'"
          case "TIMESTAMP_NTZ" => "TIMESTAMP_NTZ '2000-01-01 00:00:00'"
          case _ => "946684800"
        }
        val cond = scan.where(expr(s"$f = $k")).queryExecution.optimizedPlan
          .collectFirst { case p: Filter => p.condition }.get
        val (cmp, rest) = conjuncts(cond).partition(_.isInstanceOf[EqualTo])
        cmp match {
          case Seq(EqualTo(fe, lit: Literal)) => (z, f, fe, lit.dataType, rest)
          case _ => fail(s"$f in $z optimized to ${cond.sql}")
        }
      }
    } finally {
      spark.conf.set("spark.sql.session.timeZone", prevZone)
      spark.conf.unset("spark.sql.optimizer.excludedRules")
    }

    val Hour = 3600L * 1000000L
    val Day = 24 * Hour
    // each zone's transitions — DST changes, Apia's skipped day (as an
    // instant, and as local time for NTZ), Kwajalein's 23 h repeat (1969)
    // and skipped day (1993) — plus edges every zone shares
    def micros(s: String) = java.time.Instant.parse(s).getEpochSecond * 1000000L
    val common = Seq("1970-01-01T00:00:00Z", "2024-02-29T00:00:00Z", "2023-12-31T23:00:00Z")
    val transitions = Map(
      "America/New_York" -> Seq("2024-03-10T07:00:00Z", "2024-11-03T06:00:00Z"),
      "Pacific/Apia" -> Seq("2011-12-30T10:00:00Z", "2011-12-31T00:00:00Z"),
      "Pacific/Kwajalein" -> Seq("1969-09-30T13:00:00Z", "1993-08-21T12:00:00Z"))
    // a zoned node goes wrong within hours of a transition, a calendar
    // shift within days of one
    def fileGen(z: String) = {
      val near = Gen.oneOf((transitions.getOrElse(z, Nil) ++ common).map(micros))
      for {
        mn <- Gen.frequency(1 -> Gen.choose(-20L * 365 * Day, 60L * 365 * Day),
          1 -> near.flatMap(a => Gen.choose(a - 3 * Day, a + 3 * Day)),
          4 -> near.flatMap(a => Gen.choose(a - 4 * Hour, a + 4 * Hour)))
        w <- Gen.choose(0, 11).flatMap(e => Gen.choose(0L, math.pow(10, e).toLong * 3))
        fracs <- Gen.listOfN(12, Gen.choose(0.0, 1.0))
        kFrac <- Gen.choose(-0.5, 1.5); kShift <- Gen.oneOf(0L, 0L, Hour, -Hour, Day, -Day)
        nudge <- Gen.oneOf(0, 0, 0, 1, -1)
      } yield (mn, w, fracs, kFrac, kShift, nudge)
    }

    def at(e: Expression, v: Long): Any = e.transform {
      case a: AttributeReference if a.name == "ts" => Literal(v, a.dataType)
    }.eval()
    val seeds = Seq(20261018L, 7L, 42L)
    val filesPerSeed = 30
    info(s"seeds: ${seeds.mkString(", ")}")
    val params = Gen.Parameters.default
    var verdicts = 0
    for (seed <- seeds; ((z, f, fe, kType, rest), pi) <- preds.zipWithIndex) {
      val files = Gen.listOfN(filesPerSeed, fileGen(z)).pureApply(params, Seed(seed * 1000 + pi))
      for ((mn, w, fracs, kFrac, kShift, nudge) <- files; op <- ops) {
        val mx = mn + w
        val kAt = mn + (kFrac * w).toLong + kShift
        val k0 = try at(fe, kAt) catch { case _: ArithmeticException => null }
        if (k0 != null) {
          val kv: Any = k0 match { case l: Long => l + nudge; case i: Int => i + nudge }
          val pred = (op(fe, Literal(kv, kType)) +: rest).reduce(And)
          val tri = StatsPruning.eval(pred,
            Map("ts" -> ColStats(Some(StatVal.L(mn)), Some(StatVal.L(mx)), 0L)), 1000L)
          if (tri != StatsPruning.Unknown) {
            verdicts += 1
            for (v <- mn +: mx +: fracs.map(fr => mn + (fr * w).toLong)) {
              val got = try at(pred, v) catch { case _: ArithmeticException => null }
              val ok = if (tri == StatsPruning.AlwaysFalse) got != true else got == true
              assert(ok, s"$tri unsound in zone $z: ${pred.sql} over [$mn, $mx] " +
                s"(seed $seed) is $got at ts=$v")
            }
          }
        }
      }
    }
    info(s"${preds.size} predicates x ${ops.size} ops x ${seeds.size * filesPerSeed} files: $verdicts verdicts checked")
    assert(verdicts > 1000)
  }

  test("NTZ column: date_trunc prunes zone-free") {
    import spark.implicits._
    val root = tmpDir("prune-ntz")
    val t = TsTable.create(root, TableMeta("ntz",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)), None, None))
    def hourDf(h: Int) =
      (0 until 60).map(m => (s"2024-03-01 %02d:%02d:00".format(h, m), h * 100.0 + m))
        .toDF("tss", "price")
        .select(col("tss").cast("timestamp_ntz").as("ts"), col("price"))
    t.append(hourDf(10).coalesce(1))
    t.append(hourDf(12).coalesce(1))
    val k12 = java.time.LocalDateTime.of(2024, 3, 1, 12, 0, 0)
    val q = t.scan(spark).where(date_trunc("hour", col("ts")) === lit(k12))
    assert(q.count() == 60 && filesRead(q) == 1)
  }

  test("supplementary-char string stats: pruning stays sound (utf8 byte order)") {
    import spark.implicits._
    // parquet footer min/max for strings are UNSIGNED UTF-8 byte order;
    // UTF-16 compareTo places U+FFFF ABOVE surrogate pairs, which used to
    // prune the file containing '￿' when an emoji was the byte-max
    val root = tmpDir("prune-utf8")
    val t = TsTable.create(root, TableMeta("docs",
      TableKind.Clustered(ClusterSpec(Seq("doc_id"), "lexico")), None, None))
    t.append(Seq(("￿", 1L), ("😀", 2L)).toDF("doc_id", "v").coalesce(1))
    val q = t.scan(spark).where(col("doc_id") === "￿")
    assert(q.count() == 1, "row lost to UTF-16-ordered string pruning")
    assert(filesRead(q) == 1)
    val q2 = t.scan(spark).where(col("doc_id") === "😀")
    assert(q2.count() == 1 && filesRead(q2) == 1)
    // a probe below the byte-order min still prunes
    assert(filesRead(t.scan(spark).where(col("doc_id") === "A")) == 0)
  }

  test("multi-segment min/max, empty result, count(*)") {
    val none = scan.where(col("ts") > ts("2024-03-02 00:00:00"))
    assert(none.count() == 0 && filesRead(none) == 0)
    assert(scan.count() == 120)
  }

  test("filters through aliases/subqueries stay correct (and prune when pushable)") {
    // reference: alias-in-subquery yields Unknown/no-prune; Catalyst
    // pushes the filter through the alias back onto ts, so we PRUNE and
    // still return the right rows — strictly better, asserted here
    val sub = scan.select(col("ts").as("t2"), col("price"))
      .where(col("t2") >= ts("2024-03-01 12:00:00"))
    assert(sub.count() == 60)
    assert(filesRead(sub) == 1)
    // order-by-desc + limit (reference test name parity): TakeOrdered plan
    val top = scan.orderBy(col("ts").desc).limit(3)
    val got = top.collect().map(_.getTimestamp(0).toString)
    assert(got.head == "2024-03-01 12:59:00.0" && got.length == 3)
  }

  test("projection order preserved; limit works through the relation") {
    val cols = scan.select("price", "ts").columns.toSeq
    assert(cols == Seq("price", "ts"))
    assert(scan.limit(7).count() == 7)
  }

  test("IsNull / IsNotNull pruning from null counts") {
    import spark.implicits._
    val root = tmpDir("prune-null")
    val t = TsTable.create(root, TableMeta("n",
      TableKind.Clustered(ClusterSpec(Seq("doc_id"), "none")), None, None))
    // file A: no nulls in v; file B: all nulls in v
    t.append(Seq((1L, Some(1.0)), (2L, Some(2.0))).toDF("id", "v").coalesce(1))
    t.append(Seq((3L, None: Option[Double]), (4L, None)).toDF("id", "v").coalesce(1))
    assert(filesRead(t.scan(spark).where(col("v").isNull)) == 1)    // A pruned
    assert(filesRead(t.scan(spark).where(col("v").isNotNull)) == 1) // B pruned
    assert(filesRead(t.scan(spark).where(col("v") > 0.5)) == 1)     // all-null file pruned
  }

  test("empty table scans as zero rows with schema") {
    val root = tmpDir("prune-empty")
    val t = TsTable.create(root, TableMeta("e",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1h"), None)), None, None))
    assert(t.scan(spark).count() == 0)
  }
}
