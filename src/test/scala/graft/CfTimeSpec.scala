package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CfTime, NetCDF, Zarr}

/** r13: CF time-coordinate decode — unit-string parsing, the standard →
  * TIMESTAMP path, fixed-length calendars → (year, doy, us_of_day),
  * NULL propagation, loud rejects, and the NetCDF twin. The Zarr side is
  * additionally oracle-gated (q_cf_time_standard / q_cf_time_fixed). */
class CfTimeSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("parseUnits: step table, epoch forms, loud rejects") {
    val u = CfTime.parseUnits("days since 1850-01-01")
    assert(u.step == 86400000000L && u.year == 1850 && u.month == 1 &&
      u.day == 1 && u.usOfDay == 0L)
    val u2 = CfTime.parseUnits("hours since 2001-02-03T04:05:06.25Z")
    assert(u2.step == 3600000000L &&
      u2.usOfDay == (4 * 3600L + 5 * 60 + 6) * 1000000L + 250000L)
    val u3 = CfTime.parseUnits("seconds since 1970-1-1 0:0:0 UTC")
    assert(u3.step == 1000000L && u3.year == 1970)
    assert(CfTime.parseUnits("minutes since 2000-01-01").step == 60000000L)
    intercept[IllegalArgumentException](
      CfTime.parseUnits("fortnights since 1850-01-01"))
    intercept[IllegalArgumentException]( // non-zero UTC offsets unsupported
      CfTime.parseUnits("days since 1850-01-01 00:00:00+05:30"))
    intercept[IllegalArgumentException](CfTime.parseUnits("1850-01-01"))
  }

  test("decode: all_leap carries years both ways; julian rejects; NULLs stay NULL") {
    import spark.implicits._
    val df = Seq((0, Some(366.0)), (1, None), (2, Some(-1.0)))
      .toDF("i", "value")
    // epoch 2001-03-01 in all_leap = doy 61 (31 + 29 + 1)
    val got = CfTime.decode(df, "value", "days since 2001-03-01", "all_leap")
      .collect()
      .map(r => (r.getInt(0),
        if (r.isNullAt(1)) None else Some((r.getInt(1), r.getInt(2), r.getLong(3)))))
      .toMap
    assert(got(0).contains((2002, 61, 0L)), got(0).toString)
    assert(got(1).isEmpty, "masked fill must stay NULL")
    assert(got(2).contains((2001, 60, 0L)), got(2).toString)
    intercept[IllegalArgumentException](
      CfTime.decode(df, "value", "days since 1850-01-01", "martian"))
  }

  test("decode: julian calendar — century leap years, cycle bounds, reform era") {
    import spark.implicits._
    def dec(units: String, vs: Seq[Option[Double]]): Map[Int, Option[(Int, Int, Long)]] =
      CfTime.decode(
          vs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "value"),
          "value", units, "julian")
        .collect()
        .map(r => (r.getInt(0), if (r.isNullAt(1)) None
          else Some((r.getInt(1), r.getInt(2), r.getLong(3)))))
        .toMap
    // 1900 IS leap in julian (the rule that splits it from Gregorian):
    // epoch Feb 28 + 1 day = Feb 29 (doy 60), + 2 = Mar 1 (doy 61)
    val g1 = dec("days since 1900-02-28", Seq(Some(0.0), Some(1.0), Some(2.0)))
    assert(g1(0).contains((1900, 59, 0L)))
    assert(g1(1).contains((1900, 60, 0L)), "1900-02-29 must exist in julian")
    assert(g1(2).contains((1900, 61, 0L)))
    // 4-year cycle bounds from year 1: day 1460 = last day of leap year
    // 4 (doy 366); 1461 = year 5 doy 1; NULL stays NULL
    val g2 = dec("days since 1-01-01",
      Seq(Some(1460.0), Some(1461.0), None, Some(1094.0), Some(1095.0)))
    assert(g2(0).contains((4, 366, 0L)))
    assert(g2(1).contains((5, 1, 0L)))
    assert(g2(2).isEmpty)
    assert(g2(3).contains((3, 365, 0L)))
    assert(g2(4).contains((4, 1, 0L)))
    // Gregorian-reform era: julian 1582-10-05 exists (Gregorian skipped
    // it); Oct 5 of the non-leap 1582 is doy 278
    val g3 = dec("days since 1582-01-01", Seq(Some(277.0)))
    assert(g3(0).contains((1582, 278, 0L)))
    // cross-calendar pin: julian counts 15 more leap days than proleptic
    // Gregorian over years 1..1999 (centuries minus multiples of 400),
    // so julian day 730134 since 1-01-01 labels 2000-01-01 while the
    // same count in Gregorian labels 2000-01-16
    val gDays = java.time.LocalDate.of(2000, 1, 1).toEpochDay -
      java.time.LocalDate.of(1, 1, 1).toEpochDay
    assert(gDays == 730119L)
    val g4 = dec("days since 1-01-01", Seq(Some(730134.0)))
    assert(g4(0).contains((2000, 1, 0L)))
    // time-of-day carry: hours + epoch clock time land in us_of_day
    val g5 = dec("hours since 1904-12-31 06:00:00",
      Seq(Some(0.0), Some(20.0), Some(18.0)))
    assert(g5(0).contains((1904, 366, 6L * 3600000000L)),
      "1904 is julian leap: Dec 31 = doy 366")
    assert(g5(1).contains((1905, 1, 2L * 3600000000L)))
    assert(g5(2).contains((1905, 1, 0L)))
    // pre-year-1 dates reject loudly, not wrap
    val err = intercept[Exception](dec("days since 1-01-01", Seq(Some(-1.0))))
    assert((err.getMessage != null && err.getMessage.contains("julian")) ||
      Option(err.getCause).exists(_.getMessage.contains("julian")), err.toString)
  }

  test("CF encode is the exact inverse of decode across calendars") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // standard: day- and second-grain instants round-trip exactly
    val ts = Seq("1850-01-01 00:00:00", "1992-06-15 00:00:00",
      "2001-02-03 04:05:06", "1849-12-30 00:00:00")
      .toDF("s").select(to_timestamp(col("s")).as("t"))
    val enc = ts.select(col("t"),
      CfTime.encodeStandard(col("t"), "seconds since 1850-01-01").as("value"))
    val back = CfTime.decode(enc, "value", "seconds since 1850-01-01",
      "standard")
    assert(back.filter(col("t") =!= col("time")).count() == 0)
    // whole-steps discipline: 04:05:06 is not a whole day
    intercept[Exception](ts.select(
      CfTime.encodeStandard(col("t"), "days since 1850-01-01")).collect())
    // non-standard calendars: companion columns round-trip through the
    // encode → decode pair, julian included (1900-02-29 exists)
    for (cal <- Seq("noleap", "all_leap", "360_day", "julian")) {
      val maxDoy = cal match {
        case "noleap" => 365; case "360_day" => 360; case _ => 366
      }
      val comp = Seq((1900, 59, 0L), (1900, math.min(60, maxDoy), 64800000000L),
        (1904, maxDoy, 0L), (2000, 1, 3600000000L))
        .toDF("y", "d", "u")
      val e = comp.select(col("y").as("y0"), col("d").as("d0"),
        col("u").as("u0"),
        CfTime.encodeNonStandard(col("y"), col("d"), col("u"),
          "hours since 1900-01-01", cal).as("value"))
      val b = CfTime.decode(e, "value", "hours since 1900-01-01", cal)
      assert(b.filter(col("y0") =!= col("year") ||
        col("d0") =!= col("doy") || col("u0") =!= col("us_of_day"))
        .count() == 0, s"calendar $cal")
    }
    // NULLs pass both encoders
    val n = Seq[(Option[Int], Option[Int])]((None, None)).toDF("y", "d")
      .select(CfTime.encodeNonStandard(col("y"), col("d"), lit(0L),
        "days since 1900-01-01", "noleap").as("v"))
    assert(n.head().isNullAt(0))
  }

  test("NetCDF readTimeCoordinate: classic time var with units/calendar attrs") {
    import spark.implicits._
    val f = java.io.File.createTempFile("graft_cft", ".nc"); f.deleteOnExit()
    val times = Seq((0, 0.0), (1, 1.5), (2, -0.25)).toDF("time", "value")
    NetCDF.writeClassic(spark, f.getPath, Seq("time" -> 3),
      Seq(NetCDF.WriteVar("time", Seq("time"), times,
        Seq(NetCDF.NcAttr("units", "days since 2000-01-01"),
          NetCDF.NcAttr("calendar", "standard"))),
        NetCDF.WriteVar("plain", Seq("time"), times)))
    val gotDf = NetCDF.readTimeCoordinate(spark, f.getPath, "time")
    // the positional index yields to the decoded axis (xarray semantics)
    assert(gotDf.columns.toSeq == Seq("time_idx", "time"))
    val got = gotDf
      .collect().map(r => (r.getInt(0), r.getTimestamp(1).toInstant)).toMap
    assert(got(0) == java.time.Instant.parse("2000-01-01T00:00:00Z"))
    assert(got(1) == java.time.Instant.parse("2000-01-02T12:00:00Z"))
    assert(got(2) == java.time.Instant.parse("1999-12-31T18:00:00Z"))
    // a var with no units attr is not a time coordinate — loud reject
    intercept[IllegalArgumentException](
      NetCDF.readTimeCoordinate(spark, f.getPath, "plain"))
  }

  test("--decode-times lake conversion: CF axes land decoded (Zarr + NetCDF)") {
    import spark.implicits._
    // Zarr: the pipeline store's time axis becomes TIMESTAMP in the lake
    val root = tmpDir("zarr_dt_lake_")
    Zarr.plantedCfPipeStore(root.getPath)
    val lake = tmpDir("zarr_dt_lake_out_")
    Zarr.toParquetLake(spark, root.getPath, lake.getPath, decodeTimes = true)
    val t = spark.read.parquet(new java.io.File(lake, "time").getPath)
    assert(t.schema("time").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(t.count() == 730)
    // without the flag the raw offsets stay raw (xarray parity: decoding
    // is opt-in here, default-on there — the CLI flag is the opt-in)
    val lake2 = tmpDir("zarr_dt_lake_raw_")
    Zarr.toParquetLake(spark, root.getPath, lake2.getPath)
    assert(spark.read.parquet(new java.io.File(lake2, "time").getPath)
      .schema("value").dataType == org.apache.spark.sql.types.DoubleType)
    // NetCDF classic: the time dim-coordinate joins in decoded
    val f = java.io.File.createTempFile("graft_cft_lake", ".nc"); f.deleteOnExit()
    val times = Seq((0, 0.0), (1, 1.5), (2, 3.0)).toDF("time", "value")
    val temp = Seq((0, 10.0), (1, 11.0), (2, 12.0)).toDF("time", "value")
    NetCDF.writeClassic(spark, f.getPath, Seq("time" -> 3),
      Seq(NetCDF.WriteVar("time", Seq("time"), times,
        Seq(NetCDF.NcAttr("units", "hours since 2020-05-06"))),
        NetCDF.WriteVar("temp", Seq("time"), temp)))
    val ncLake = tmpDir("nc_dt_lake_")
    NetCDF.toParquetLake(spark, f.getPath, ncLake.getPath, decodeTimes = true)
    val back = spark.read.parquet(new java.io.File(ncLake, "temp").getPath)
    val r1 = back.filter(org.apache.spark.sql.functions.col("time") === 1).head()
    assert(r1.getAs[java.sql.Timestamp]("time_coord_time").toInstant ==
      java.time.Instant.parse("2020-05-06T01:30:00Z"))
    assert(r1.getAs[Double]("value") == 11.0)
  }

  test("HDF5 readTimeCoordinate: vlen-string units attr (netCDF-4 shape) + fixed calendar") {
    val f = java.io.File.createTempFile("graft_h5_cft", ".h5"); f.deleteOnExit()
    graft.sources.Hdf5Planted.write(f.getPath)
    // units = vlen global-heap text ("days since 2001-09-09", gcol obj 6),
    // calendar = fixed-width string; 2.5 d pins the micros rounding
    val got = graft.sources.Hdf5.readTimeCoordinate(spark, f.getPath, "time")
      .collect().map(r => (r.getInt(0), r.getTimestamp(1).toInstant)).toMap
    assert(got(0) == java.time.Instant.parse("2001-09-09T00:00:00Z"))
    assert(got(2) == java.time.Instant.parse("2001-09-11T12:00:00Z"))
    assert(got(5) == java.time.Instant.parse("2001-09-14T00:00:00Z"))
    // datasets without units reject loudly
    intercept[IllegalArgumentException](
      graft.sources.Hdf5.readTimeCoordinate(spark, f.getPath, "temp"))
    // the lake conversion decodes the axis when asked
    val lake = tmpDir("h5_dt_lake_")
    graft.sources.Hdf5.toParquetLake(spark, f.getPath, lake.getPath,
      decodeTimes = true)
    assert(spark.read.parquet(new java.io.File(lake, "time").getPath)
      .schema("time").dataType == org.apache.spark.sql.types.TimestampType)
  }

  test("Zarr readTimeCoordinate: planted store spot checks (oracle covers the rest)") {
    val root = tmpDir("zarr_cft_")
    Zarr.plantedCfTimeStore(root.getPath)
    val std = Zarr.readTimeCoordinate(spark, root.getPath, "tstd")
      .collect().map(r => (r.getInt(0), r.getTimestamp(1).toInstant)).toMap
    assert(std(0) == java.time.Instant.parse("1850-01-01T00:00:00Z"))
    assert(std(2) == java.time.Instant.parse("1849-01-01T00:00:00Z"))
    val t360 = Zarr.readTimeCoordinate(spark, root.getPath, "t360")
      .collect().map(r => (r.getInt(0), (r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    assert(t360(0) == ((2000, 35, 43200000000L))) // the epoch itself: noon of doy 35
    assert(t360(3) == ((1999, 360, 43200000000L))) // -35 d: last day of 1999, noon
    // a non-time array rejects loudly instead of mis-decoding
    intercept[IllegalArgumentException](
      Zarr.readTimeCoordinate(spark, root.getPath, "nope"))
  }
}
