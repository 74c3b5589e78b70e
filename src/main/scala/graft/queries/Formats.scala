package graft
package queries

import graft.pipeline.Similarity
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Shared._

/** File-format queries: Zarr, HDF5 and NetCDF ingest and write, CF time
  * encodings, media decoders and the interchange-format round trips.
  *
  * Each round trip writes `documents` with the stock Spark writer, reads
  * it back, and aggregates a content-sensitive checksum
  * ([[Shared.docChecksum]]: md5-prefix sums over text and source, so any
  * quoting, escaping or encoding corruption moves it). The oracle computes
  * the same aggregate straight from the parquet table, so a green row
  * proves a value-faithful round trip, not just row counts. Round-trip
  * files land under `java.io.tmpdir` keyed by the sf dir
  * ([[Shared.rtDir]]); planted stores are built there once
  * ([[Shared.fixtureStore]]). */
private[graft] object Formats {

  val queries: Seq[Query] = Seq(

    Query("q_image_decode_stats", (s, dir) => {
      // REAL image decode end-to-end: planted PNGs (pixel channel c of
      // (x, y) = (id*7 + 3x + 5y + 11c) mod 256 — Multimodal.plantedPng)
      // are PNG-encoded and DECODED executor-side by the JDK ImageIO
      // decoder (pipeline/Multimodal.ImageIODecoder); decoded exact
      // channel sums match the closed form the oracle computes over a
      // generated pixel grid. Payload bytes never shuffle: generate,
      // encode, decode and project all ride the scan partitioning.
      val mk = udf((id: Long) => graft.pipeline.Multimodal.plantedPng(id, 16, 12))
      val media = t(s, dir, "documents").filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("media_id"), lit("image").as("modality"),
          mk(col("doc_id")).as("payload"))
      graft.pipeline.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          element_at(col("feature"), 1).cast("int").as("width"),
          element_at(col("feature"), 2).cast("int").as("height"),
          element_at(col("feature"), 3).cast("int").as("channels"),
          // exact channel-sum ints / 192.0: single correctly-rounded
          // division per channel — engine-exact unrounded
          (element_at(col("feature"), 4).cast("double") / 192.0).as("mean_r"),
          (element_at(col("feature"), 5).cast("double") / 192.0).as("mean_g"),
          (element_at(col("feature"), 6).cast("double") / 192.0).as("mean_b"))
    },
      """select d.doc_id media_id, 16 width, 12 height, 3 channels,
        |  cast(sum((d.doc_id*7 + x.i*3 + y.i*5) % 256) as double) / 192.0 mean_r,
        |  cast(sum((d.doc_id*7 + x.i*3 + y.i*5 + 11) % 256) as double) / 192.0 mean_g,
        |  cast(sum((d.doc_id*7 + x.i*3 + y.i*5 + 22) % 256) as double) / 192.0 mean_b
        |from (select doc_id from documents where doc_id % 25 = 0) d
        |cross join range(0, 16) x(i)
        |cross join range(0, 12) y(i)
        |group by 1""".stripMargin),

    Query("q_audio_decode_stats", (s, dir) => {
      // REAL audio decode end-to-end: planted stereo PCM-16 WAVs (sample
      // of frame i, channel ch = ((id*7 + 13i + 5ch) mod 201) - 100 —
      // Multimodal.plantedWav) are RIFF-encoded and DECODED executor-side
      // by the pure-JVM WAV byte parser (pipeline/Multimodal.WavDecoder).
      // Decoded exact sums / peak / zero-crossing counts match the closed
      // form the oracle computes over a generated sample grid. Payload
      // bytes never shuffle: generate, decode and project ride the scan.
      val mk = udf((id: Long) =>
        graft.pipeline.Multimodal.plantedWav(id, (300 + (id % 7) * 20).toInt, 8000, 2))
      val media = t(s, dir, "documents").filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("media_id"), lit("audio").as("modality"),
          mk(col("doc_id")).as("payload"))
      graft.pipeline.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          element_at(col("feature"), 1).cast("int").as("sample_rate"),
          element_at(col("feature"), 2).cast("int").as("channels"),
          element_at(col("feature"), 3).cast("int").as("frames"),
          element_at(col("feature"), 4).cast("long").as("sum_ch0"),
          element_at(col("feature"), 5).cast("long").as("sum_abs_ch0"),
          element_at(col("feature"), 6).cast("long").as("peak_abs"),
          element_at(col("feature"), 7).cast("long").as("zero_crossings"),
          element_at(col("feature"), 8).cast("double").as("duration_ms"))
    },
      """with d as (select doc_id, cast(300 + (doc_id % 7) * 20 as int) frames
        |  from documents where doc_id % 25 = 0),
        |s as (select d.doc_id, d.frames, x.i,
        |    ((d.doc_id*7 + x.i*13) % 201) - 100 s0,
        |    ((d.doc_id*7 + x.i*13 + 5) % 201) - 100 s1
        |  from d cross join range(0, 420) x(i)
        |  where x.i < d.frames),
        |z as (select *, lag(s0) over (partition by doc_id order by i) prev from s)
        |select doc_id media_id, 8000 sample_rate, 2 channels, max(frames) frames,
        |  cast(sum(s0) as bigint) sum_ch0,
        |  cast(sum(abs(s0)) as bigint) sum_abs_ch0,
        |  cast(max(greatest(abs(s0), abs(s1))) as bigint) peak_abs,
        |  cast(sum(case when prev is not null and
        |      (case when s0 >= 0 then 1 else 0 end) <> (case when prev >= 0 then 1 else 0 end)
        |    then 1 else 0 end) as bigint) zero_crossings,
        |  cast(max(frames) / 8.0 as double) duration_ms
        |from z group by doc_id""".stripMargin),

    Query("q_audio_mp3_features", (s, dir) => {
      // mp3 energy-envelope features WITHOUT audio decode — the
      // documented approximation for the one compressed audio format in
      // scope (full Layer III synthesis = Huffman + IMDCT + filterbank,
      // rejected as out of pure-JVM scope): per-frame VBR bitrates track
      // where the encoder spent bits, so their envelope (sum/min/max and
      // the minimum-bitrate frame count ≈ silence) is the filtering
      // signal a training-data pipeline needs. Planted VBR payloads
      // (bitrate index 1 + (id*3 + 5f) mod 14 — Multimodal
      // .plantedMp3Vbr, ID3v2.4 footer + ID3v1 tail included) are walked
      // executor-side by mp3FrameStats; payload bytes never shuffle.
      val mk = udf((id: Long) =>
        graft.pipeline.Multimodal.plantedMp3Vbr(id, (200 + (id % 5) * 40).toInt))
      val st = udf((p: Array[Byte]) => graft.pipeline.Multimodal.mp3FrameStats(p))
      t(s, dir, "documents").filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("media_id"), st(mk(col("doc_id"))).as("f"))
        .select(col("media_id"),
          element_at(col("f"), 1).cast("int").as("frames"),
          element_at(col("f"), 2).cast("int").as("sample_rate"),
          element_at(col("f"), 3).cast("long").as("sum_kbps"),
          element_at(col("f"), 4).cast("int").as("min_kbps"),
          element_at(col("f"), 5).cast("int").as("max_kbps"),
          element_at(col("f"), 6).cast("long").as("silentish_frames"),
          element_at(col("f"), 7).cast("long").as("duration_ms"))
    },
      """with d as (select doc_id, cast(200 + (doc_id % 5) * 40 as int) frames
        |  from documents where doc_id % 25 = 0),
        |f as (select d.doc_id, d.frames,
        |    list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
        |      cast(1 + ((d.doc_id*3 + x.i*5) % 14) as int)) kbps
        |  from d cross join range(0, 400) x(i)
        |  where x.i < d.frames),
        |a as (select doc_id, max(frames) frames, sum(kbps) sum_kbps,
        |    min(kbps) min_kbps, max(kbps) max_kbps
        |  from f group by doc_id)
        |select a.doc_id media_id, cast(a.frames as int) frames,
        |  44100 sample_rate, cast(a.sum_kbps as bigint) sum_kbps,
        |  cast(a.min_kbps as int) min_kbps, cast(a.max_kbps as int) max_kbps,
        |  cast((select count(*) from f
        |        where f.doc_id = a.doc_id and f.kbps = a.min_kbps) as bigint) silentish_frames,
        |  cast(a.frames * 1152000 // 44100 as bigint) duration_ms
        |from a""".stripMargin),

    Query("q_video_frame_stats", (s, dir) => {
      // REAL video decode end-to-end: planted uncompressed AVIs (BI_RGB
      // bottom-up DIB frames; channel c of pixel (x,y) in frame f =
      // (id*7 + 3x + 5y + 17f + 11c) mod 256 — Multimodal.plantedAvi) are
      // container-encoded and DECODED executor-side by the pure-JVM AVI
      // parser (pipeline/Multimodal.AviDecoder): header walk (hdrl/strl),
      // frame-chunk walk (movi), padded-row pixel reads. Cross-frame exact
      // channel sums match the oracle's generated pixel grid.
      val mk = udf((id: Long) => graft.pipeline.Multimodal.plantedAvi(id, 16, 12, 4, 25))
      val media = t(s, dir, "documents").filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("media_id"), lit("video").as("modality"),
          mk(col("doc_id")).as("payload"))
      graft.pipeline.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          element_at(col("feature"), 1).cast("int").as("width"),
          element_at(col("feature"), 2).cast("int").as("height"),
          element_at(col("feature"), 3).cast("int").as("frames"),
          element_at(col("feature"), 4).cast("double").as("fps"),
          element_at(col("feature"), 5).cast("long").as("sum_r"),
          element_at(col("feature"), 6).cast("long").as("sum_g"),
          element_at(col("feature"), 7).cast("long").as("sum_b"),
          element_at(col("feature"), 8).cast("double").as("duration_ms"))
    },
      """select d.doc_id media_id, 16 width, 12 height, 4 frames,
        |  cast(25 as double) fps,
        |  cast(sum((d.doc_id*7 + x.i*3 + y.i*5 + f.i*17) % 256) as bigint) sum_r,
        |  cast(sum((d.doc_id*7 + x.i*3 + y.i*5 + f.i*17 + 11) % 256) as bigint) sum_g,
        |  cast(sum((d.doc_id*7 + x.i*3 + y.i*5 + f.i*17 + 22) % 256) as bigint) sum_b,
        |  cast(160 as double) duration_ms
        |from (select doc_id from documents where doc_id % 25 = 0) d
        |cross join range(0, 16) x(i)
        |cross join range(0, 12) y(i)
        |cross join range(0, 4) f(i)
        |group by 1""".stripMargin),

    Query("q_zarr_strings", (s, dir) => {
      // Zarr v2 STRING ingest (sources/Zarr.readStrings) under the DuckDB
      // gate: the planted store covers the three public string layouts —
      // |O + numcodecs vlen-utf8 (zarr-python's text codec, multi-byte
      // UTF-8), |S8 fixed bytes with edge chunks AND an absent chunk
      // (→ NULL), >U5 big-endian UCS-4 — flattened to (src, idx, value)
      // rows the oracle regenerates closed-form.
      val store = fixtureStore("graft_zarr_strstore", "labels/.zarray")(
        graft.sources.Zarr.plantedStringStore)
      val labels = graft.sources.Zarr.readStrings(s, store, "labels")
        .select(lit("labels").as("src"), col("doc").cast("long").as("idx"),
          col("value"))
      val tags = graft.sources.Zarr.readStrings(s, store, "tags")
        .select(lit("tags").as("src"),
          (col("i0").cast("long") * 3 + col("i1")).as("idx"), col("value"))
      val names = graft.sources.Zarr.readStrings(s, store, "names")
        .select(lit("names").as("src"), col("i0").cast("long").as("idx"),
          col("value"))
      labels.unionByName(tags).unionByName(names).orderBy(col("src"), col("idx"))
    },
      """select * from (
        |  select 'labels' src, cast(t as bigint) idx,
        |    'doc_' || t || '_αβ' "value" from range(0, 6) r(t)
        |  union all
        |  select 'tags', cast(t as bigint),
        |    case when t = 14 then null
        |      else 's' || (t // 3) || '_' || (t % 3) end
        |  from range(0, 15) r(t)
        |  union all
        |  select 'names', cast(t as bigint), 'n' || t || 'é'
        |  from range(0, 4) r(t)
        |) order by src, idx""".stripMargin),

    Query("q_zarr_bytes", (s, dir) => {
      // r11 codecs under the gate: |O + vlen-bytes BINARY payloads (zlib,
      // one absent chunk → NULL, bytes deliberately not valid UTF-8 so a
      // text-path misread cannot round-trip) evidenced as lowercase hex,
      // and a Blosc chunk with the DELTA filter (flags 0x09: XOR against
      // the first element, then byte-shuffle) carrying int64 counts. The
      // oracle rebuilds hex strings and values from the closed forms.
      val store = fixtureStore("graft_zarr_bytestore_v1", "payloads/.zarray")(
        graft.sources.Zarr.plantedBytesStore)
      val payloads = graft.sources.Zarr.readBinary(s, store, "payloads")
        .select(lit("payloads").as("src"), col("doc").cast("long").as("idx"),
          length(col("value")).cast("int").as("n_bytes"),
          lower(hex(col("value"))).as("v"))
      // the delta chunk was written by graft's own encoder, so the
      // unverified-layout opt-in is sound here (and exercises the gate);
      // capture happens at readVariable call time, so restoring the conf
      // immediately after is safe
      s.conf.set("spark.graft.blosc.allowUnverifiedDelta", "true")
      val counts = try {
        graft.sources.Zarr.readVariable(s, store, "counts")
          .select(lit("counts").as("src"), col("i").cast("long").as("idx"),
            lit(8).as("n_bytes"),
            col("value").cast("long").cast("string").as("v"))
      } finally s.conf.unset("spark.graft.blosc.allowUnverifiedDelta")
      payloads.unionByName(counts).orderBy(col("src"), col("idx"))
    },
      // hex strings and counts rebuilt from the planted closed forms;
      // g∈[3,6) sits in the absent chunk → NULLs
      """with pb as (
        |  select g, k, printf('%02x', (37*g + 11*k) % 256) h
        |  from range(0, 7) r(g), range(0, 6) r2(k)
        |  where k < 2 + g % 5),
        |ph as (select g, cast(2 + g % 5 as int) nb,
        |  string_agg(h, '' order by k) hx from pb group by 1, 2)
        |select * from (
        |  select 'payloads' src, cast(g as bigint) idx,
        |    case when g between 3 and 5 then null else nb end n_bytes,
        |    case when g between 3 and 5 then null else hx end v
        |  from ph
        |  union all
        |  select 'counts', cast(i as bigint), 8,
        |    cast((7*i*i + 3*i) % 1000 - 137 as varchar)
        |  from range(0, 24) r(i)
        |) order by 1, 2""".stripMargin),

    Query("q_zarr_v3_strings", (s, dir) => {
      // r12: Zarr v3 string/bytes data types under the gate — plain
      // vlen-utf8+gzip with an absent chunk, a SHARDED string array
      // (inner vlen-utf8+zstd, crc32c'd index, one missing inner chunk),
      // and a v3 `bytes` array (vlen-bytes+zstd+crc32c) evidenced as
      // lowercase hex. The oracle rebuilds everything from closed forms.
      val store = fixtureStore("graft_zarr_v3strstore_v1", "labels/zarr.json")(
        graft.sources.Zarr.plantedStringStoreV3)
      val labels = graft.sources.Zarr.readStrings(s, store, "labels")
        .select(lit("labels").as("src"), col("doc").cast("long").as("idx"),
          col("value").as("v"))
      val tags = graft.sources.Zarr.readStrings(s, store, "tags")
        .select(lit("tags").as("src"), col("doc").cast("long").as("idx"),
          col("value").as("v"))
      val blobs = graft.sources.Zarr.readBinary(s, store, "blobs")
        .select(lit("blobs").as("src"), col("doc").cast("long").as("idx"),
          lower(hex(col("value"))).as("v"))
      labels.unionByName(tags).unionByName(blobs).orderBy(col("src"), col("idx"))
    },
      // labels 3..5 sit in the absent chunk, tags 6..7 in the missing
      // inner shard chunk → NULLs; blob hex from the plantedPayload form
      """with bl as (
        |  select i, k, printf('%02x', (37*(i+7) + 11*k) % 256) h
        |  from range(0, 5) r(i), range(0, 8) r2(k)
        |  where k < 2 + (i+7) % 5),
        |bh as (select i, string_agg(h, '' order by k) hx from bl group by 1)
        |select * from (
        |  select 'labels' src, cast(t as bigint) idx,
        |    case when t between 3 and 5 then null
        |      else 'v3_' || t || '_λ' end v
        |  from range(0, 7) r(t)
        |  union all
        |  select 'tags', cast(t as bigint),
        |    case when t >= 6 then null else 't' || t || 'é' end
        |  from range(0, 8) r(t)
        |  union all
        |  select 'blobs', cast(i as bigint), hx from bh
        |) order by src, idx""".stripMargin),

    Query("q_zarr_msgpack", (s, dir) => {
      // r12: the other two numcodecs text-capable object codecs under the
      // gate — msgpack2 (zlib, absent chunk → NULL, a python-None nil
      // element) and json2 (gzip, escaped-quote + é escapes), plus
      // msgpack bin8 BINARY payloads evidenced as lowercase hex. The
      // decoder is additionally pinned to a hand-authored spec byte
      // vector in ZarrSpec; the oracle rebuilds all values closed-form.
      val store = fixtureStore("graft_zarr_msgpackstore_v1", "mlabels/.zarray")(
        graft.sources.Zarr.plantedMsgpackStore)
      val mlabels = graft.sources.Zarr.readStrings(s, store, "mlabels")
        .select(lit("mlabels").as("src"), col("doc").cast("long").as("idx"),
          col("value").as("v"))
      val jlabels = graft.sources.Zarr.readStrings(s, store, "jlabels")
        .select(lit("jlabels").as("src"), col("doc").cast("long").as("idx"),
          col("value").as("v"))
      val mblobs = graft.sources.Zarr.readBinary(s, store, "mblobs")
        .select(lit("mblobs").as("src"), col("doc").cast("long").as("idx"),
          lower(hex(col("value"))).as("v"))
      mlabels.unionByName(jlabels).unionByName(mblobs).orderBy(col("src"), col("idx"))
    },
      // mlabels: null at 2 (python None) and 3..5 (absent chunk); mblobs
      // hex from the plantedPayload closed form at g+11
      """with bl as (
        |  select g, k, printf('%02x', (37*(g+11) + 11*k) % 256) h
        |  from range(0, 5) r(g), range(0, 8) r2(k)
        |  where k < 2 + (g+11) % 5),
        |bh as (select g, string_agg(h, '' order by k) hx from bl group by 1)
        |select * from (
        |  select 'mlabels' src, cast(t as bigint) idx,
        |    case when t between 2 and 5 then null
        |      else 'm' || t || '_π' end v
        |  from range(0, 7) r(t)
        |  union all
        |  select 'jlabels', cast(t as bigint),
        |    case when t = 1 then 'a"b' else 'j' || t || '_é' end
        |  from range(0, 5) r(t)
        |  union all
        |  select 'mblobs', cast(g as bigint), hx from bh
        |) order by src, idx""".stripMargin),

    Query("q_zarr_cf_write", (s, dir) => {
      // r14: the CF time-axis EXPORT under the gate (Zarr.writeCfTime —
      // an <i8 array with units+calendar attrs, the form xr.decode_cf
      // consumes): a standard axis encodes TIMESTAMPs as whole hours
      // since 2000-01-01 (whole-steps discipline columnar), a julian
      // axis writes pre-encoded companion offsets; both read back
      // through readTimeCoordinate's decode. The oracle restates both
      // closed forms — instants for the standard leg, (year, doy,
      // us_of_day) via the julian cycle split for the other.
      import s.implicits._
      val store = fixtureStore("graft_zarr_cfw_store_v1", "tstd/.zarray") { d =>
        val std = (0 until 6).map(i => (i, s"2000-01-01 0$i:00:00"))
          .toDF("i", "ts")
          .select(col("i"), to_timestamp(col("ts")).as("value"))
        graft.sources.Zarr.writeCfTime(std, d, "tstd",
          "hours since 2000-01-01", targetChunkElems = 4)
        val jul = Seq((1900, 59, 0L), (1900, 60, 64800000000L),
          (1904, 366, 0L), (2000, 1, 3600000000L)).zipWithIndex
          .map { case ((y, doy, us), i) => (i, y, doy, us) }
          .toDF("i", "y", "d", "u")
          .select(col("i"), graft.sources.CfTime.encodeNonStandard(
            col("y"), col("d"), col("u"),
            "hours since 1900-01-01", "julian").as("value"))
        graft.sources.Zarr.writeCfTime(jul, d, "tjul",
          "hours since 1900-01-01", "julian", targetChunkElems = 4)
      }
      val std = graft.sources.Zarr
        .readTimeCoordinate(s, store, "tstd")
        .select(lit("std").as("src"), col("i").cast("long").as("idx"),
          year(col("time")).as("year"), dayofyear(col("time")).as("doy"),
          (unix_micros(col("time")) % lit(86400000000L)).as("us_of_day"))
      val jul = graft.sources.Zarr
        .readTimeCoordinate(s, store, "tjul")
        .select(lit("jul").as("src"), col("i").cast("long").as("idx"),
          col("year"), col("doy"), col("us_of_day"))
      std.unionByName(jul).orderBy(col("src"), col("idx"))
    },
      // both write→decode round trips restated closed-form: six hourly
      // instants on 2000-01-01, and the four julian companions verbatim
      """select * from (
        |  select 'std' src, cast(i as bigint) idx, cast(2000 as int) "year",
        |    cast(1 as int) doy, cast(i*3600000000 as bigint) us_of_day
        |  from (values (0),(1),(2),(3),(4),(5)) t(i)
        |  union all
        |  select 'jul', cast(i as bigint), cast(y as int), cast(d as int),
        |    cast(u as bigint)
        |  from (values (0,1900,59,0),(1,1900,60,64800000000),
        |    (2,1904,366,0),(3,2000,1,3600000000)) t(i,y,d,u)
        |) order by src, idx""".stripMargin),

    Query("q_zarr_write_roundtrip", (s, dir) => {
      // r12: the corpus EXPORT path under the gate — writeStrings emits a
      // |O + vlen-utf8 + zlib store from a closed-form frame (rows 12..15
      // entirely absent → their chunk is never written → NULL on read;
      // null inputs encode as "" per the numcodecs VLenUTF8 None
      // convention), readStrings reads it back, the oracle restates the
      // closed form.
      import s.implicits._
      val store = fixtureStore("graft_zarr_wstr_store_v1", "labels/.zarray") { d =>
        val rows = (0 until 20).filter(t => t < 12 || t > 15).map { t =>
          (t, if (t % 7 == 3) null else s"w${t}_µ")
        }
        graft.sources.Zarr.writeStrings(
          rows.toDF("doc", "value"), d, "labels",
          targetChunkElems = 4)
      }
      graft.sources.Zarr.readStrings(s, store, "labels")
        .select(col("doc").cast("long").as("idx"), col("value").as("v"))
        .orderBy("idx")
    },
      // rows 12..15 sit in the never-written chunk → NULL; null inputs
      // round-trip as "" (vlen-utf8 has no null)
      """select cast(t as bigint) idx,
        |  case when t between 12 and 15 then null
        |       when t % 7 = 3 then ''
        |       else 'w' || t || '_µ' end v
        |from range(0, 20) r(t) order by idx""".stripMargin),

    Query("q_zarr_datetime", (s, dir) => {
      // r12: datetime64 ingest under the gate — <M8[ns] with a NaT and an
      // absent chunk (both → NULL) plus >M8[s] zlib big-endian with a
      // negative epoch value; exact Long micros conversion (the Double
      // channel would round ns epochs past 2^53). The oracle states the
      // instants literally.
      val store = fixtureStore("graft_zarr_dt_store_v1", "t/.zarray")(
        graft.sources.Zarr.plantedDatetimeStore)
      val t = graft.sources.Zarr.readDatetimes(s, store, "t")
        .select(lit("t").as("src"), col("i").cast("long").as("idx"),
          col("value").as("v"))
      val ts = graft.sources.Zarr.readDatetimes(s, store, "ts")
        .select(lit("ts").as("src"), col("i").cast("long").as("idx"),
          col("value").as("v"))
      t.unionByName(ts).orderBy(col("src"), col("idx"))
    },
      // t: base 2001-02-03T04:05:06.123456789 + i days, ns → micros
      // truncation; NaT at 2 and the absent chunk 3..5 → NULL
      """select * from (
        |  select 't' src, cast(i as bigint) idx,
        |    case when i = 2 or i between 3 and 5 then null
        |      else timestamp '2001-02-03 04:05:06.123456'
        |        + to_days(cast(i as int)) end v
        |  from range(0, 7) r(i)
        |  union all
        |  select 'ts', cast(i as bigint),
        |    case when i = 0 then timestamp '1970-01-01 00:00:00'
        |      else timestamp '1969-12-31 23:59:59' end
        |  from range(0, 2) r(i)
        |) order by src, idx""".stripMargin),

    Query("q_zarr_cf_pipeline", (s, dir) => {
      // r13: the full reference-user path end to end — open a store,
      // decode its CF time axis (readTimeCoordinate), align it with a
      // data variable BY POSITION (the xarray coordinate model), and
      // aggregate per calendar year (a tx-days-above indicator shape +
      // an exact-quarter annual sum). 2000 is a leap year, so the two
      // years split 366/364 — the decode must get the calendar right
      // for the group counts to match.
      val store = fixtureStore("graft_zarr_cfpipe_store_v1", "time/.zarray")(
        graft.sources.Zarr.plantedCfPipeStore)
      val time = graft.sources.Zarr.readTimeCoordinate(s, store, "time")
      val tas = graft.sources.Zarr.readVariable(s, store, "tas")
      tas.join(time, "t")
        .groupBy(year(col("time")).as("yr"))
        .agg(coalesce(sum(when(col("value") > 2.5, 1L)), lit(0L)).as("n_hot"),
          sum(col("value")).as("sum_tas"), count(lit(1)).as("n_days"))
        .orderBy("yr")
    },
      // the store's closed form replayed: value ((3t mod 40) − 10)/4 on a
      // 730-day axis from 2000-01-01; 2000 is a leap year → 366/364 split
      """with g as (select t, ((t*3) % 40 - 10) * cast(0.25 as double) v
        |  from range(0, 730) r(t))
        |select year(timestamp '2000-01-01' + to_days(cast(t as int))) yr,
        |  cast(coalesce(sum(case when v > 2.5 then 1 end), 0) as bigint) n_hot,
        |  sum(v) sum_tas, cast(count(*) as bigint) n_days
        |from g group by 1 order by 1""".stripMargin),

    Query("q_cf_time_standard", (s, dir) => {
      // r13: CF-encoded time coordinates ("<step> since <epoch>" units —
      // the encoding xarray writes for every time axis) under the gate,
      // standard-calendar half: int days since 1850 (negative too) and
      // fractional hours with an in-epoch time-of-day, both → TIMESTAMP
      // via one deterministic floor-to-micros. The oracle restates the
      // instants with the identical arithmetic.
      val store = fixtureStore("graft_zarr_cftime_store_v2", "tstd/.zarray")(
        graft.sources.Zarr.plantedCfTimeStore)
      val tstd = graft.sources.Zarr.readTimeCoordinate(s, store, "tstd")
        .select(lit("tstd").as("src"), col("i").cast("long").as("idx"),
          col("time").as("v"))
      val thour = graft.sources.Zarr.readTimeCoordinate(s, store, "thour")
        .select(lit("thour").as("src"), col("i").cast("long").as("idx"),
          col("time").as("v"))
      tstd.unionByName(thour).orderBy(col("src"), col("idx"))
    },
      // tstd: 1850 epoch + int days (incl. negative); thour: fractional
      // hours from an in-epoch 04:00 time of day — the same single
      // floor-to-micros both engines replay
      """select * from (
        |  select 'tstd' src, cast(i as bigint) idx,
        |    timestamp '1850-01-01' + to_days(cast(v as int)) v
        |  from (values (0, 0), (1, 36524), (2, -365), (3, 51000)) t(i, v)
        |  union all
        |  select 'thour', cast(i as bigint),
        |    timestamp '2001-02-03 04:00:00'
        |      + to_microseconds(cast(floor(v*3600000000.0 + 0.5) as bigint))
        |  from (values (0, 0.5), (1, 27.25)) t(i, v)
        |) order by src, idx""".stripMargin),

    Query("q_cf_time_fixed", (s, dir) => {
      // r13: the fixed-length-calendar half — noleap and 360_day decode
      // to the engine's (year, doy, us_of_day) companion columns (Spark
      // date types can't carry these calendars); negative offsets carry
      // into earlier years, the 360_day epoch sits mid-year at noon.
      val store = fixtureStore("graft_zarr_cftime_store_v2", "tstd/.zarray")(
        graft.sources.Zarr.plantedCfTimeStore)
      val tnl = graft.sources.Zarr.readTimeCoordinate(s, store, "tnl")
        .select(lit("tnl").as("src"), col("i").cast("long").as("idx"),
          col("year"), col("doy"), col("us_of_day"))
      val t360 = graft.sources.Zarr.readTimeCoordinate(s, store, "t360")
        .select(lit("t360").as("src"), col("i").cast("long").as("idx"),
          col("year"), col("doy"), col("us_of_day"))
      tnl.unionByName(t360).orderBy(col("src"), col("idx"))
    },
      // the oracle replays the fixed-calendar split arithmetic: positive
      // mod for day/us-of-day, exact integer year carry (negatives too);
      // t360's epoch contributes 34.5 days (doy 35 at noon)
      """select * from (
        |  select 'tnl' src, cast(i as bigint) idx,
        |    cast(2000 + (v - ((v % 365) + 365) % 365) / 365 as int) "year",
        |    cast(((v % 365) + 365) % 365 + 1 as int) doy,
        |    cast(0 as bigint) us_of_day
        |  from (values (0, 0), (1, 364), (2, 365), (3, 730), (4, -1)) t(i, v)
        |  union all
        |  select 't360', cast(i as bigint),
        |    cast(2000 + (dayn - ((dayn % 360) + 360) % 360) / 360 as int),
        |    cast(((dayn % 360) + 360) % 360 + 1 as int),
        |    cast(us_of_day as bigint)
        |  from (
        |    select i,
        |      (us - ((us % 86400000000) + 86400000000) % 86400000000)
        |        / 86400000000 dayn,
        |      ((us % 86400000000) + 86400000000) % 86400000000 us_of_day
        |    from (select i,
        |        cast(floor(v*86400000000.0 + 0.5) as bigint)
        |          + 2980800000000 us
        |      from (values (0, 0.0), (1, 359.5), (2, 360.0), (3, -35.0))
        |        t(i, v)) q1) q2
        |) order by src, idx""".stripMargin),

    Query("q_cf_time_encode", (s, dir) => {
      // r14: the CF time ENCODE half (CfTime.encodeStandard /
      // encodeNonStandard — what the export converters write): every
      // l_shipdate encodes as exact integer days since 1992-01-01
      // (whole-steps discipline enforced columnar), and a planted
      // julian companion frame encodes as hours since 1900-01-01
      // through the closed-form julian day count. Integer `div`
      // (IntegralDivide) keeps the micros sums exact past 2^53. The
      // oracle replays both closed forms.
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val std = li.select(graft.sources.CfTime.encodeStandard(
          col("l_shipdate"), "days since 1992-01-01").as("v"))
        .agg(count(lit(1)).as("n_rows"), min(col("v")).as("min_v"),
          max(col("v")).as("max_v"), sum(col("v")).as("sum_v"))
        .withColumn("src", lit("std"))
      val planted = Seq((1900, 59, 0L), (1900, 60, 64800000000L),
        (1904, 366, 0L), (2000, 1, 3600000000L)).toDF("y", "d", "u")
      val jul = planted.select(graft.sources.CfTime.encodeNonStandard(
          col("y"), col("d"), col("u"),
          "hours since 1900-01-01", "julian").as("v"))
        .agg(count(lit(1)).as("n_rows"), min(col("v")).as("min_v"),
          max(col("v")).as("max_v"), sum(col("v")).as("sum_v"))
        .withColumn("src", lit("jul"))
      std.unionByName(jul)
        .select(col("src"), col("n_rows"), col("min_v"), col("max_v"),
          col("sum_v"))
    },
      """select 'std' src, cast(count(*) as bigint) n_rows,
        |  cast(min(date_diff('day', date '1992-01-01', l_shipdate))
        |    as bigint) min_v,
        |  cast(max(date_diff('day', date '1992-01-01', l_shipdate))
        |    as bigint) max_v,
        |  cast(sum(date_diff('day', date '1992-01-01', l_shipdate))
        |    as bigint) sum_v
        |from lineitem
        |union all
        |select 'jul', cast(count(*) as bigint),
        |  cast(min(v) as bigint), cast(max(v) as bigint),
        |  cast(sum(v) as bigint)
        |from (
        |  select ((365*(y-1) + (y-1 - (y-1)%4)/4 + d - 1) - 693609) * 24
        |    + u / 3600000000 v
        |  from (values (1900, 59, 0), (1900, 60, 64800000000),
        |    (1904, 366, 0), (2000, 1, 3600000000)) t(y, d, u)) q""".stripMargin),

    Query("q_netcdf_cf_write", (s, dir) => withFixtureRoot("graft_nccf_q_") { tmp =>
      // r15: the NetCDF leg of the CF time export half — the reverse
      // converter writes a DECODABLE time axis (encodeStandard offsets
      // + "days since" units + calendar attrs riding the classic
      // header, NetCDF.cfTimeVar), mirroring what Zarr.writeCfTime does
      // for Zarr. The oracle is the round trip itself: write a daily
      // axis + per-day counts, read back through --decode-times
      // (readTimeCoordinate → CfTime.decode), and the (timestamp,
      // count) rows must equal the counts computed straight off the
      // table — identity through encode → header → seek-write → decode.
      import org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem")
      val axis = li.select(col("l_shipdate").cast("timestamp").as("ts"))
        .distinct()
        .withColumn("idx", row_number().over(Window.orderBy(col("ts"))) - 1)
      val counts = li.groupBy(col("l_shipdate").cast("timestamp").as("ts"))
        .agg(count(lit(1)).cast("double").as("value"))
        .join(axis, "ts")
        .select(col("idx").as("time"), col("value"))
      val n = axis.count().toInt
      val nc = tmp + "/t.nc"
      graft.sources.NetCDF.writeClassic(s, nc, Seq(("time", n)),
        Seq(graft.sources.NetCDF.cfTimeVar("time", axis, "idx", "ts",
            "days since 1992-01-01"),
          graft.sources.NetCDF.WriteVar("n_ship", Seq("time"), counts)))
      val lake = tmp + "/lake"
      graft.sources.NetCDF.toParquetLake(s, nc, lake, decodeTimes = true)
      val out = s.read.parquet(s"$lake/n_ship")
        .select(col("time_coord_time").as("ship_ts"),
          col("value").cast("long").as("n_ship"))
        .localCheckpoint(true) // one row per ship date; the files can go
      out
    },
      // the encode closed forms replayed: standard = exact day diffs;
      // julian = 365(y−1) + ⌊(y−1)/4⌋ days before the year (epoch
      // 1900-01-01 = julian absolute day 693609), hours = days·24 + us/3.6e9
      // the NetCDF CF-axis round trip reduces to the plain per-day counts:
      // write → decode-times read is an identity, so the oracle is the
      // straight aggregate off the table
      """select cast(l_shipdate as timestamp) ship_ts,
        |  cast(count(*) as bigint) n_ship
        |from lineitem group by 1""".stripMargin),

    Query("q_cf_time_julian", (s, dir) => {
      // r14: the julian CF calendar (every 4th year leap, CENTURIES
      // included — cftime's DatetimeJulian) decodes to the same
      // (year, doy, us_of_day) companion form, closed-form over the
      // fixed 1461-day 4-year cycle. The planted axis pins the century
      // leap (1900-02-29 exists), midnight walk-back, and a 731-day
      // carry across the 366-day 1900; the oracle replays the integer
      // cycle split.
      val store = fixtureStore("graft_zarr_cftime_store_v2", "tstd/.zarray")(
        graft.sources.Zarr.plantedCfTimeStore)
      graft.sources.Zarr.readTimeCoordinate(s, store, "tjul")
        .select(col("i").cast("long").as("idx"),
          col("year"), col("doy"), col("us_of_day"))
        .orderBy(col("idx"))
    },
      // julian cycle split replayed in integers: epoch 1900-02-28 18:00 is
      // absolute day 693667 (365·1899 + ⌊1899/4⌋ + 58) + 64800000000 µs;
      // 4-year cycle 1461 days, leap year LAST in the cycle
      """with raw as (
        |  select idx, cast(floor(v*3600000000.0 + 0.5) as bigint)
        |    + 64800000000 us
        |  from (values (0, 0.0), (1, 6.0), (2, 30.0), (3, -18.75),
        |    (4, 17544.0)) t(idx, v)),
        |d as (
        |  select idx,
        |    (us - ((us % 86400000000) + 86400000000) % 86400000000)
        |      / 86400000000 + 693667 dayn,
        |    ((us % 86400000000) + 86400000000) % 86400000000 us_of_day
        |  from raw),
        |y as (
        |  select idx, us_of_day, dayn % 1461 r,
        |    (dayn - dayn % 1461) / 1461 cyc,
        |    least(3, cast(((dayn % 1461) - (dayn % 1461) % 365) / 365
        |      as bigint)) yi
        |  from d)
        |select cast(idx as bigint) idx,
        |  cast(1 + 4*cyc + yi as int) "year",
        |  cast(r - 365*yi + 1 as int) doy,
        |  cast(us_of_day as bigint) us_of_day
        |from y order by idx""".stripMargin),

    Query("q_zarr_temporal_roundtrip", (s, dir) => {
      // r13: the temporal EXPORT twins under the gate — writeDatetimes
      // (<M8[us]; null input → NaT at 3; rows 6..8 sit in a never-written
      // chunk → NULL; row 9 absent within a written chunk → NaT) and
      // writeTimedeltas (<m8[us], negative + null durations), both read
      // back through the exact-Long readers. The oracle restates the
      // closed forms; intervals are evidenced epoch-anchored.
      import s.implicits._
      val store = fixtureStore("graft_zarr_wtmp_store_v1", "ts/.zarray") { d =>
        val base = java.time.Instant.parse("2010-06-01T00:00:00Z")
        val tsRows = (0 until 12).filter(t => t < 6 || t > 9).map { t =>
          (t, if (t == 3) null
              else java.sql.Timestamp.from(
                base.plusSeconds(t * 3661L).plusNanos(t * 1000L)))
        }
        graft.sources.Zarr.writeDatetimes(
          tsRows.toDF("i", "value"), d, "ts", targetChunkElems = 3)
        val tdRows = (0 until 6).map { t =>
          (t, if (t == 2) null
              else java.time.Duration.ofMillis((t - 3) * 90061123L))
        }
        graft.sources.Zarr.writeTimedeltas(
          tdRows.toDF("i", "value"), d, "td", targetChunkElems = 6)
      }
      val epoch = to_timestamp(lit("1970-01-01 00:00:00"))
      val ts = graft.sources.Zarr.readDatetimes(s, store, "ts")
        .select(lit("ts").as("src"), col("i").cast("long").as("idx"),
          col("value").as("v"))
      val td = graft.sources.Zarr.readTimedeltas(s, store, "td")
        .select(lit("td").as("src"), col("i").cast("long").as("idx"),
          (epoch + col("value")).as("v"))
      ts.unionByName(td).orderBy(col("src"), col("idx"))
    },
      // ts: 2010-06-01 + t*3661s + t µs; NULL at 3 (NaT), 6..8 (unwritten
      // chunk), 9 (in-chunk absent → NaT); td: (t-3) * 90061123 ms anchored
      // to the epoch, NULL at 2
      """select * from (
        |  select 'ts' src, cast(t as bigint) idx,
        |    case when t = 3 or t between 6 and 9 then null
        |      else timestamp '2010-06-01 00:00:00'
        |        + to_seconds(cast(t*3661 as bigint))
        |        + to_microseconds(cast(t as bigint)) end v
        |  from range(0, 12) r(t)
        |  union all
        |  select 'td', cast(t as bigint),
        |    case when t = 2 then null
        |      else timestamp '1970-01-01'
        |        + to_milliseconds(cast((t-3) * 90061123 as bigint)) end
        |  from range(0, 6) r(t)
        |) order by src, idx""".stripMargin),

    Query("q_zarr_vectors_topk", (s, dir) => {
      // r13: the embedding-matrix round trip feeding the ANN tier — the
      // embeddings table exports to a 2-D <f8 store (writeArray over the
      // (vec_id, pos) long format), reads back as whole-vector rows
      // (readVectors), and scores brute-force top-5 by the integer-grid
      // cosine. The oracle replays straight off the parquet table, so
      // export + vector read + similarity pin each other end to end.
      // The store is PER-SF (its contents depend on the input dir).
      val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
      val store = fixtureStore(s"graft_zarr_vec_store_${safe}_v1", "emb/.zarray") { d =>
        val long = t(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "value")))
          .select(col("vec_id"), col("pos"), col("value").cast("double").as("value"))
        graft.sources.Zarr.writeArray(long, d, "emb")
      }
      val vecs = graft.sources.Zarr.readVectors(s, store, "emb")
      val q = vecs.filter(col("vec_id") === 0).select(col("vec").as("qv"))
      vecs.crossJoin(broadcast(q))
        .withColumn("cosine", Similarity.cosineQuantized(col("vec"), col("qv")))
        .orderBy(col("cosine").desc, col("vec_id")).limit(5)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cosine").desc, col("vec_id"))))
        .select(col("rank"), col("vec_id").cast("long").as("vec_id"), col("cosine"))
    },
      // the embedding matrix round-trips through a 2-D <f8 store; the
      // oracle scores the same integer-grid cosine off the parquet table
      s"""with v as (select vec_id,
         |  list_transform(embedding, x -> cast(x as double)) vv from embeddings),
         |q as (select vv qv from v where vec_id = 0),
         |scored as (select v.vec_id, ${cosQSql("v.vv", "q.qv")} cosine from v, q),
         |ranked as (select vec_id, cosine,
         |  row_number() over (order by cosine desc, vec_id) rank from scored)
         |select cast(rank as int) rank, vec_id, cosine
         |from ranked where rank <= 5""".stripMargin),

    Query("q_zarr_datetime_filtered", (s, dir) => {
      // r13: the two temporal ingest paths the r12 reader loud-rejected —
      // a Delta(i8)-filtered <M8[s] array (the canonical zarr-python
      // recipe for monotonic time coordinates; NaT at 7 pins the wrap
      // through the sentinel, chunk 2 absent → NULL) and a v3 SHARDED
      // numpy.datetime64[us] array (missing inner chunk, NaT, edge
      // clipping). The oracle states the instants closed-form.
      val store = fixtureStore("graft_zarr_temporal_store_v1", "tf/.zarray")(
        graft.sources.Zarr.plantedTemporalStore)
      val tf = graft.sources.Zarr.readDatetimes(s, store, "tf")
        .select(lit("tf").as("src"), col("i").cast("long").as("idx"),
          col("value").as("v"))
      val tsh = graft.sources.Zarr.readDatetimes(s, store, "tsh")
        .select(lit("tsh").as("src"), col("i").cast("long").as("idx"),
          col("value").as("v"))
      tf.unionByName(tsh).orderBy(col("src"), col("idx"))
    },
      // tf: 2003-05-07T08:09:10Z + g hours via Delta(i8)+zlib, NaT at 7 and
      // the absent chunk 8..9 → NULL; tsh: 1999-12-31T23:59:58Z + i s + i µs
      // sharded, NULL at the missing inner chunk (2,3) and the NaT (9)
      """select * from (
        |  select 'tf' src, cast(g as bigint) idx,
        |    case when g >= 7 then null
        |      else timestamp '2003-05-07 08:09:10'
        |        + to_hours(cast(g as int)) end v
        |  from range(0, 10) r(g)
        |  union all
        |  select 'tsh', cast(i as bigint),
        |    case when i in (2, 3, 9) then null
        |      else timestamp '1999-12-31 23:59:58'
        |        + to_seconds(cast(i as int))
        |        + to_microseconds(cast(i as int)) end
        |  from range(0, 12) r(i)
        |) order by src, idx""".stripMargin),

    Query("q_zarr_timedelta", (s, dir) => {
      // r13: timedelta64 → DayTimeIntervalType (exact-Long micros; NaT
      // and absent chunks → NULL). Intervals don't survive the parquet/
      // DuckDB comparison channel, so the evidence column anchors each
      // duration to the epoch — TIMESTAMP compares exactly and pins the
      // interval's micros through an independent engine. The INTERVAL
      // schema itself is asserted in ZarrSpec.
      val store = fixtureStore("graft_zarr_temporal_store_v1", "tf/.zarray")(
        graft.sources.Zarr.plantedTemporalStore)
      val epoch = to_timestamp(lit("1970-01-01 00:00:00"))
      val td = graft.sources.Zarr.readTimedeltas(s, store, "td")
        .select(lit("td").as("src"), col("i").cast("long").as("idx"),
          (epoch + col("value")).as("v"))
      val tdm = graft.sources.Zarr.readTimedeltas(s, store, "tdm")
        .select(lit("tdm").as("src"), col("i").cast("long").as("idx"),
          (epoch + col("value")).as("v"))
      td.unionByName(tdm).orderBy(col("src"), col("idx"))
    },
      // durations anchored to the epoch (intervals don't survive the
      // parquet channel): td in ms with NaT at 4, tdm in MINUTES with NaT
      // at 1 — both signs pin the pmod/div day-carry
      """select * from (
        |  select 'td' src, cast(i as bigint) idx,
        |    case when i = 4 then null
        |      else timestamp '1970-01-01' + to_milliseconds(
        |        case i when 0 then 0 when 1 then 1 when 2 then -1
        |               when 3 then 90061123 else -90061123 end) end v
        |  from range(0, 6) r(i)
        |  union all
        |  select 'tdm', cast(i as bigint),
        |    case when i = 1 then null
        |      else timestamp '1970-01-01'
        |        + to_minutes(case when i = 0 then 90 else -90 end) end
        |  from range(0, 3) r(i)
        |) order by src, idx""".stripMargin),

    Query("q_zarr_write_v3", (s, dir) => {
      // r12: the Zarr V3 export twins under the gate — writeArrayV3
      // (float64, [bytes le, gzip] codecs, c/<i> default keys, exact
      // binary quarters so values compare exactly) and writeStringsV3
      // (data_type string, [vlen-utf8, gzip]); both read back through
      // the v3 reader. Rows 6..8 / 0..3 sit in never-written chunks →
      // NULL; the t=5 null input round-trips as "".
      import s.implicits._
      val store = fixtureStore("graft_zarr_w3_store_v1", "vals/zarr.json") { d =>
        val nums = (0 until 12).filter(t => t < 6 || t > 8)
          .map(t => (t, (3.0 * t - 5.0) / 4.0))
        graft.sources.Zarr.writeArrayV3(
          nums.toDF("t", "value"), d, "vals", targetChunkElems = 3)
        val strs = (4 until 10).map(t =>
          (t, if (t == 5) null else s"v3w_${t}_σ"))
        graft.sources.Zarr.writeStringsV3(
          strs.toDF("doc", "value"), d, "labels", targetChunkElems = 4)
      }
      val vals = graft.sources.Zarr.readVariable(s, store, "vals")
        .select(lit("vals").as("src"), col("t").cast("long").as("idx"),
          col("value").cast("string").as("v"))
      val labels = graft.sources.Zarr.readStrings(s, store, "labels")
        .select(lit("labels").as("src"), col("doc").cast("long").as("idx"),
          col("value").as("v"))
      vals.unionByName(labels).orderBy(col("src"), col("idx"))
    },
      // v3 writers: vals 6..8 / labels 0..3 sit in never-written chunks →
      // NULL; the t=5 null input round-trips as ""; quarters print exactly
      """select * from (
        |  select 'labels' src, cast(t as bigint) idx,
        |    case when t < 4 then null when t = 5 then ''
        |      else 'v3w_' || t || '_σ' end v
        |  from range(0, 10) r(t)
        |  union all
        |  select 'vals', cast(t as bigint),
        |    case when t between 6 and 8 then null
        |      else cast((3.0*t - 5.0)/4.0 as varchar) end
        |  from range(0, 12) r(t)
        |) order by src, idx""".stripMargin),

    Query("q_zarr_ingest", (s, dir) => {
      // Zarr v2 ingest end-to-end against an independent engine: a planted
      // closed-form store (sources/Zarr.plantedStore — zlib chunks, partial
      // edge chunks, one ABSENT chunk = fill, CF scale/offset/fill unpack,
      // _ARRAY_DIMENSIONS naming) is read chunk-parallel by the Zarr
      // source and aggregated per time step; the oracle regenerates the
      // same grid arithmetically. Values are exact binary halves (scale
      // 0.5), so sums compare exactly without rounding.
      // fixed tmp location, written once and reused (the bench runs this
      // n× per round; a fresh createTempDirectory per call leaked stores)
      val store = fixtureStore("graft_zarr_store", "pr/.zarray")(graft.sources.Zarr.plantedStore)
      val tas = graft.sources.Zarr.readVariable(s, store, "tas")
        .groupBy(col("time"))
        .agg(count(col("value")).as("n_valid"),
          sum(col("value")).as("sum_tas"),
          min(col("value")).as("min_tas"),
          max(col("value")).as("max_tas"))
      // pr is stored with the xarray-default Blosc/lz4/shuffle codec —
      // this half of the join hash-checks the compressed-chunk decode
      val pr = graft.sources.Zarr.readVariable(s, store, "pr")
        .groupBy(col("time"))
        .agg(sum(col("value")).as("sum_pr"))
      tas.join(pr, Seq("time"))
        .select(col("time"), col("n_valid"), col("sum_tas"),
          col("min_tas"), col("max_tas"), col("sum_pr"))
    },
      """with g as (
        |  select t.i t, y.i y, x.i x,
        |    case when t.i between 2 and 3 and y.i >= 3 and x.i < 3 then null
        |         else cast((t.i*100 + y.i*10 + x.i)*0.5 + 10.0 as double) end v,
        |    cast((t.i + y.i + x.i)*0.25 as double) p
        |  from range(0, 6) t(i)
        |  cross join range(0, 5) y(i)
        |  cross join range(0, 4) x(i))
        |select cast(t as int) "time", count(v) n_valid, sum(v) sum_tas,
        |  min(v) min_tas, max(v) max_tas, sum(p) sum_pr
        |from g group by 1""".stripMargin),

    Query("q_hdf5_ingest", (s, dir) => {
      // HDF5 ("latest" format) ingest under the DuckDB gate: a planted
      // closed-form file (sources/Hdf5Planted — implicit chunk index
      // with edge padding the reader must clip, CF fill/scale/offset,
      // fixed-string, compound and VLEN-sequence datasets) is read
      // through all four typed paths and joined per time index; the
      // oracle regenerates the grid arithmetically. Values are exact
      // binary halves/quarters.
      // Fixed tmp location, written once and reused across bench passes.
      val f = fixtureStore("graft_planted_h5_v4.h5", "")(graft.sources.Hdf5Planted.write)
      val temp = graft.sources.Hdf5.readVariable(s, f, "temp")
        .groupBy(col("i0"))
        .agg(count(col("value")).as("n_valid"),
          sum(col("value")).as("sum_temp"))
      val label = graft.sources.Hdf5.readStrings(s, f, "label")
        .select(col("i0"), col("value").as("label"))
      val stn = graft.sources.Hdf5.readCompound(s, f, "station")
        .select(col("i0"), col("id"), col("w"))
      val samp = graft.sources.Hdf5.readVlen(s, f, "samples")
        .select(col("i0"), size(col("value")).as("n_samp"),
          aggregate(col("value"), lit(0.0), (a, x) => a + x).as("sum_samp"))
      temp.join(label, Seq("i0")).join(stn, Seq("i0")).join(samp, Seq("i0"))
        .select(col("i0"), col("n_valid"), col("sum_temp"), col("label"),
          col("id"), col("w"), col("n_samp"), col("sum_samp"))
        .orderBy("i0")
    },
      """with g as (select t.i t, y.i y,
        |  case when (t.i = 1 and y.i = 2) or (t.i = 5 and y.i = 0) then null
        |       else cast((t.i*10 + y.i)*0.5 + 100.0 as double) end v
        |  from range(0, 6) t(i) cross join range(0, 5) y(i)),
        |a as (select t, count(v) n_valid, sum(v) sum_temp from g group by 1)
        |select cast(t as int) i0, n_valid, sum_temp,
        |  concat('L', t) as "label", cast(2*t + 1 as bigint) id,
        |  cast(t*0.25 - 0.5 as double) w,
        |  cast(t as int) n_samp,
        |  cast(t*t + 0.125*t*(t-1) as double) sum_samp
        |from a order by 1""".stripMargin),

    Query("q_hdf5_nested", (s, dir) => {
      // NESTED compound + ARRAY members through the recursive datatype
      // walk (Hdf5Planted `track`: {id int32, pos {x,y} struct, v
      // double[3]}): struct members project as dotted columns, the array
      // member folds/indexes with the array functions. Closed binary
      // forms (halves/eighths) keep both engines exact.
      val f = fixtureStore("graft_planted_h5_v4.h5", "")(graft.sources.Hdf5Planted.write)
      graft.sources.Hdf5.readCompound(s, f, "track")
        .select(col("i0").as("t"), col("id"),
          col("pos.x").as("x"), col("pos.y").as("y"),
          aggregate(col("v"), lit(0.0), (a, e) => a + e).as("v_sum"),
          element_at(col("v"), 3).as("v_last"))
        .orderBy("t")
    },
      """select cast(t as int) t, cast(3*t + 2 as bigint) id,
        |  cast(t*1.5 as double) x, cast(10.0 - t as double) y,
        |  cast(3*t + 0.375 as double) v_sum,
        |  cast(t + 0.25 as double) v_last
        |from range(0, 6) r(t) order by 1""".stripMargin),

    Query("q_hdf5_nested_vlen", (s, dir) => {
      // r12: one-level NESTED VLEN bases under the gate — `lists`
      // VLEN(vlen str) reads ARRAY<STRING> (h5py vlen=str list columns),
      // `mats` VLEN(VLEN(int32)) reads ARRAY<ARRAY<LONG>>; both planted
      // byte-by-byte (Hdf5PlantedNestedVlen) with empty outer cells,
      // empty inner strings and empty inner rows. Arrays are evidenced
      // as '|'-joined text so the oracle states them literally.
      val f = fixtureStore("graft_planted_nested_vlen_v1.h5", "")(
        graft.sources.Hdf5PlantedNestedVlen.write)
      val lists = graft.sources.Hdf5.readVlen(s, f, "lists")
        .select(lit("lists").as("src"), col("i0").cast("int").as("idx"),
          size(col("value")).as("n"),
          concat_ws("|", col("value")).as("v"))
      val mats = graft.sources.Hdf5.readVlen(s, f, "mats")
        .select(lit("mats").as("src"), col("i0").cast("int").as("idx"),
          size(col("value")).as("n"),
          concat_ws("|", transform(col("value"),
            r => concat_ws(",", transform(r, e => e.cast("string"))))).as("v"))
      lists.unionByName(mats).orderBy(col("src"), col("idx"))
    },
      // literal replay of the planted nested-VLEN values
      """select * from (values
        |  ('lists', 0, 2, 'aa|b'),
        |  ('lists', 1, 0, ''),
        |  ('lists', 2, 3, 'cde||f'),
        |  ('mats', 0, 2, '1,2|3'),
        |  ('mats', 1, 2, '|-7,8,9')
        |) t(src, idx, n, v) order by src, idx""".stripMargin),

    Query("q_hdf5_szip", (s, dir) => {
      // szip (CCSDS 121.0-B) filtered ingest under the DuckDB gate: the
      // planted single-chunk file (Hdf5PlantedSzip — NN preprocessing,
      // 13 pixels/scanline deliberately NOT a multiple of the 8-pixel
      // block, pinning libaec's ceil-divide reference intervals) decodes
      // through the standard defilter path; the oracle regenerates the
      // closed form (3t²+7t) mod 97 arithmetically. Integer-valued
      // doubles — exact in both engines.
      val f = fixtureStore("graft_planted_szip_v1.h5", "")(graft.sources.Hdf5PlantedSzip.write)
      graft.sources.Hdf5.readVariable(s, f, "counts")
        .select(col("i0").cast("long").as("i0"), col("value"))
        .orderBy("i0")
    },
      """select cast(t as bigint) i0,
        |  cast((3*t*t + 7*t) % 97 as double) "value"
        |from range(0, 48) r(t) order by 1""".stripMargin),

    Query("q_hdf5_nbit", (s, dir) => {
      // nbit (filter 5) ingest under the DuckDB gate: the planted
      // single-chunk file (Hdf5PlantedNbit — int16 with 12-bit precision,
      // 48·12 bits packed MSB-first so element boundaries land mid-byte
      // every third sample) decodes through the standard defilter path;
      // the oracle regenerates the closed form (5t²+11t) mod 83
      // arithmetically. Integer-valued doubles — exact in both engines.
      val f = fixtureStore("graft_planted_nbit_v1.h5", "")(graft.sources.Hdf5PlantedNbit.write)
      graft.sources.Hdf5.readVariable(s, f, "sensor")
        .select(col("i0").cast("long").as("i0"), col("value"))
        .orderBy("i0")
    },
      """select cast(t as bigint) i0,
        |  cast((5*t*t + 11*t) % 83 as double) "value"
        |from range(0, 48) r(t) order by 1""".stripMargin),

    Query("q_hdf5_scaleoffset", (s, dir) => {
      // scaleoffset (filter 6) ingest under the DuckDB gate — the packing
      // netCDF-4 least_significant_digit variables carry. The planted file
      // (Hdf5PlantedScaleoffset) holds BOTH variants: packed_i16 (integer
      // scale, auto minbits, negative minimum exercising the signed
      // minval) and packed_f64 (D-scale, 2 digits, fill −999 riding the
      // reserved all-ones code). Values live on the centi-grid so decode
      // is bit-exact and the oracle replays both closed forms.
      val f = fixtureStore("graft_planted_scaleoffset_v1.h5", "")(
        graft.sources.Hdf5PlantedScaleoffset.write)
      val i16 = graft.sources.Hdf5.readVariable(s, f, "packed_i16")
        .select(lit("i16").as("src"), col("i0").cast("long").as("i0"),
          col("value"))
      val f64 = graft.sources.Hdf5.readVariable(s, f, "packed_f64")
        .select(lit("f64").as("src"), col("i0").cast("long").as("i0"),
          col("value"))
      i16.unionByName(f64).orderBy("src", "i0")
    },
      // both planted closed forms replayed arithmetically. The f64 branch
      // replays the filter's EXACT decode ops — code/100.0 + min with
      // code = k − kmin and min = kmin/100.0 (kmin = −186 over the
      // non-fill closed form) — the same IEEE divisions and addition the
      // Scala decoder performs, so the lossy filter still hashes exactly
      """select * from (
        |  select 'i16' src, cast(t as bigint) i0,
        |    cast((7*t*t + 3*t) % 199 - 60 as double) "value"
        |  from range(0, 48) r(t)
        |  union all
        |  select 'f64', cast(t as bigint),
        |    case when t % 9 = 0 then -999.0
        |         else ((17*t*t + 5*t) % 731 - 200 - (-186)) / 100.0
        |              + (-186 / 100.0) end
        |  from range(0, 40) r(t)
        |) order by 1, 2""".stripMargin),

    Query("q_image_decode_jpeg", (s, dir) => {
      // LOSSY decode pinned by a closed-form oracle: uniform-colour JPEGs
      // (Multimodal.plantedJpeg — channel values are id-derived multiples
      // of 16) are encoded and DECODED executor-side by ImageIO's JPEG
      // codec; uniform images decode within a couple of grey levels, so
      // each channel mean quantised to round(mean/16) provably equals the
      // planted value regardless of codec rounding. Complements
      // q_image_decode_stats (exact PNG) with the codec real corpora
      // actually carry.
      val mk = udf((id: Long) => graft.pipeline.Multimodal.plantedJpeg(id, 16, 12))
      val media = t(s, dir, "documents").filter(col("doc_id") % 40 === 0)
        .select(col("doc_id").as("media_id"), lit("image").as("modality"),
          mk(col("doc_id")).as("payload"))
      graft.pipeline.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          element_at(col("feature"), 1).cast("int").as("width"),
          element_at(col("feature"), 2).cast("int").as("height"),
          element_at(col("feature"), 3).cast("int").as("channels"),
          round(element_at(col("feature"), 4).cast("double") / 192.0 / 16.0)
            .cast("int").as("q_r"),
          round(element_at(col("feature"), 5).cast("double") / 192.0 / 16.0)
            .cast("int").as("q_g"),
          round(element_at(col("feature"), 6).cast("double") / 192.0 / 16.0)
            .cast("int").as("q_b"))
    },
      """select doc_id media_id, 16 width, 12 height, 3 channels,
        |  cast(round((64 + (doc_id % 4) * 32) / 16.0) as int) q_r,
        |  cast(round((80 + (doc_id % 3) * 32) / 16.0) as int) q_g,
        |  cast(round((48 + (doc_id % 5) * 32) / 16.0) as int) q_b
        |from documents where doc_id % 40 = 0""".stripMargin),

    Query("q_media_metadata", (s, dir) => {
      // Compressed-container metadata WITHOUT a codec — the formats the
      // JDK cannot decode still yield the fields corpus filtering keys
      // on. Planted MPEG1 Layer-III streams (Multimodal.plantedMp3:
      // 128 kbps / 44.1 kHz, frames = 200 + id%9·25, alternating padding
      // bit, ID3v2 head + ID3v1 tail) and ISO-BMFF boxes (plantedMp4:
      // timescale-1000 mvhd, 16.16 tkhd geometry) are parsed executor-
      // side by frame-header / box-tree walks (Multimodal.mp3Meta /
      // mp4Meta via extractMediaMeta — a narrow mapPartitions kernel, so
      // payload bytes never shuffle). Duration, rate, nominal bitrate,
      // byte size and geometry all match the closed forms the oracle
      // computes from (id) alone.
      val mkMp3 = udf((id: Long) =>
        graft.pipeline.Multimodal.plantedMp3(id, (200 + (id % 9) * 25).toInt))
      val mkMp4 = udf((id: Long) => graft.pipeline.Multimodal.plantedMp4(
        id, (320 + (id % 5) * 16).toInt, (240 + (id % 3) * 16).toInt,
        1000 + (id % 11) * 250))
      val docs = t(s, dir, "documents")
      val audio = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("media_id"), lit("audio").as("modality"),
          mkMp3(col("doc_id")).as("payload"))
      val video = docs.filter(col("doc_id") % 50 === 25)
        .select(col("doc_id").as("media_id"), lit("video").as("modality"),
          mkMp4(col("doc_id")).as("payload"))
      graft.pipeline.Multimodal.extractMediaMeta(audio.unionByName(video))
    },
      """select doc_id media_id, 'audio' modality, 'mpeg-audio' container,
        |  cast((10 + (doc_id % 7) * 16)
        |    + (200 + (doc_id % 9) * 25) * 417
        |    + ((200 + (doc_id % 9) * 25) // 2) + 128 as bigint) n_bytes,
        |  cast(((200 + (doc_id % 9) * 25) * 1152 * 1000) // 44100 as bigint) duration_ms,
        |  cast(44100 as int) sample_rate, cast(128 as int) bit_rate_kbps,
        |  cast(200 + (doc_id % 9) * 25 as bigint) frames,
        |  cast(null as int) width, cast(null as int) height
        |from documents where doc_id % 50 = 0
        |union all
        |select doc_id, 'video', 'isobmff',
        |  cast(304 + doc_id % 32 as bigint),
        |  cast(1000 + (doc_id % 11) * 250 as bigint),
        |  cast(null as int), cast(null as int), cast(null as bigint),
        |  cast(320 + (doc_id % 5) * 16 as int),
        |  cast(240 + (doc_id % 3) * 16 as int)
        |from documents where doc_id % 50 = 25""".stripMargin),

    Query("q_video_keyframes", (s, dir) => {
      // ISO-BMFF sample-table index WITHOUT a codec: stsz size envelope +
      // stss keyframe cadence from planted containers
      // (Multimodal.plantedMp4Indexed — sizes 200 + (id·11+k·17) mod 100
      // over n = 30 + (id mod 7)·10 samples, sync samples every
      // g = 5 + id mod 4), parsed executor-side by the stbl box walk
      // (mp4SampleIndex via extractVideoIndex — narrow mapPartitions,
      // payloads never shuffle). The oracle regenerates every feature
      // from (id) with a generated series.
      val mk = udf((id: Long) => graft.pipeline.Multimodal.plantedMp4Indexed(id))
      val vids = t(s, dir, "documents").filter(col("doc_id") % 50 === 25)
        .select(col("doc_id").as("media_id"), mk(col("doc_id")).as("payload"))
      graft.pipeline.Multimodal.extractVideoIndex(vids)
    },
      """with par as (select doc_id media_id,
        |    30 + (doc_id % 7) * 10 n, 5 + (doc_id % 4) g
        |  from documents where doc_id % 50 = 25),
        |sz as (select media_id,
        |    cast(sum(200 + ((media_id * 11 + k * 17) % 100)) as bigint) bytes_total,
        |    cast(min(200 + ((media_id * 11 + k * 17) % 100)) as bigint) bytes_min,
        |    cast(max(200 + ((media_id * 11 + k * 17) % 100)) as bigint) bytes_max
        |  from (select media_id, n, unnest(range(0, n)) k from par)
        |  group by 1)
        |select p.media_id, cast(p.n as bigint) n_samples,
        |  cast(1 + (p.n - 1) // p.g as bigint) n_keyframes,
        |  cast(case when 1 + (p.n - 1) // p.g >= 2 then p.g else 0 end
        |    as bigint) max_key_gap,
        |  s.bytes_total, s.bytes_min, s.bytes_max
        |from par p join sz s using (media_id)""".stripMargin),

    Query("q_exif_metadata", (s, dir) => {
      // EXIF extraction (Multimodal.extractExifMeta): planted APP1 Exif
      // TIFF segments — byte order alternating II/MM with id, inline
      // SHORT + offset ASCII + offset RATIONAL + sub-IFD pointer entries
      // — parsed executor-side by the marker/IFD walk; every recovered
      // tag has a closed form in doc_id the oracle computes directly.
      val mk = udf((id: Long) => graft.pipeline.Multimodal.plantedExifJpeg(
        id, (320 + (id % 5) * 16).toInt, 240))
      graft.pipeline.Multimodal.extractExifMeta(
          t(s, dir, "documents").filter(col("doc_id") % 40 === 0)
            .select(col("doc_id").as("media_id"), mk(col("doc_id")).as("payload")))
        .select(col("media_id"), col("orientation"), col("make"),
          col("taken_at"), col("pixel_x"))
    },
      """select doc_id media_id,
        |  cast(1 + doc_id % 8 as int) orientation,
        |  'cam' || cast(doc_id % 4 as varchar) make,
        |  '2026:01:' || lpad(cast(1 + doc_id % 27 as varchar), 2, '0')
        |    || ' ' || lpad(cast(doc_id % 24 as varchar), 2, '0')
        |    || ':00:00' taken_at,
        |  cast(320 + (doc_id % 5) * 16 as bigint) pixel_x
        |from documents where doc_id % 40 = 0""".stripMargin),

    Query("q_jsonl_roundtrip", (s, dir) => {
      // JSONL is the lingua franca of corpus interchange. Write with the
      // stock JSON sink, read back under the ORIGINAL schema (inference
      // would widen types and reorder columns), checksum per language.
      val docs = t(s, dir, "documents")
      val path = rtDir(dir, "jsonl")
      docs.write.mode("overwrite").json(path)
      docChecksum(s.read.schema(docs.schema).json(path))
    },
      s"$docChecksumSql group by lang"),

    Query("q_csv_roundtrip", (s, dir) => {
      // CSV with header; read back under the original schema so
      // doc_id/n_chars land as BIGINT again. The md5 sums catch any
      // quoting/escaping drift the writer/parser pair could introduce.
      val docs = t(s, dir, "documents")
      val path = rtDir(dir, "csv")
      docs.write.mode("overwrite").option("header", "true").csv(path)
      docChecksum(
        s.read.schema(docs.schema).option("header", "true").csv(path))
    },
      s"$docChecksumSql group by lang"),

    Query("q_orc_roundtrip", (s, dir) => {
      // ORC: the other columnar lake format (native vectorized reader);
      // schema rides in the file, no re-declaration needed.
      val docs = t(s, dir, "documents")
      val path = rtDir(dir, "orc")
      docs.write.mode("overwrite").orc(path)
      docChecksum(s.read.orc(path))
    },
      s"$docChecksumSql group by lang"),

    Query("q_warc_roundtrip", (s, dir) => {
      // WARC (ISO 28500) export + re-ingest — the container web corpora
      // arrive in (Common Crawl ships ~100 TB/crawl of *.warc.gz). Each
      // document becomes a response record (URI carries source/lang/
      // doc_id, body the UTF-8 text), one gzip member per record, one
      // file per partition; Warc.read streams the members back and the
      // checksum reconstructs every column from the WARC surface alone,
      // so a green row proves byte-faithful framing (Content-Length,
      // member boundaries, HTTP split, UTF-8 round-trip).
      val docs = t(s, dir, "documents")
      val path = rtDir(dir, "warc")
      val d = new java.io.File(path)
      Option(d.listFiles()).foreach(_.foreach(_.delete())) // idempotent re-run
      graft.sources.Warc.write(
        docs.select(
          concat(lit("https://"), col("source"), lit(".example.org/"),
            col("lang"), lit("/"), col("doc_id")).as("uri"),
          col("text").cast("binary").as("body"),
          lit("text/plain; charset=utf-8").as("http_content_type"))
          .repartition(8),
        path)
      val uriRe = "https://(src\\d+)\\.example\\.org/([a-z]+)/(\\d+)"
      val back = graft.sources.Warc.read(s, path + "/*.warc.gz")
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(
          regexp_extract(col("target_uri"), uriRe, 1).as("source"),
          regexp_extract(col("target_uri"), uriRe, 2).as("lang"),
          regexp_extract(col("target_uri"), uriRe, 3).cast("long").as("doc_id"),
          col("payload").cast("string").as("text"))
        .withColumn("n_chars", length(col("text")))
      docChecksum(back)
    },
      // every column reconstructs from the WARC surface, so the oracle is
      // the plain corpus checksum — any framing corruption moves the sums
      s"$docChecksumSql group by lang"),

    Query("q_crawl_pipeline", (s, dir) => {
      // End-to-end crawl front-end: every page is fetched TWICE under
      // different URL spellings (tracking param + default port + dot
      // segment vs plain), exported as WARC, re-ingested, extracted
      // (html_text), canonicalized (url_normalize), and deduplicated by
      // (canonical URL, text) — the exact-dup key collapses each pair to
      // one page with copies=2. This is the composed WARC → extract →
      // canonicalize → dedup path a real corpus build runs; one shuffle
      // for the dedup, everything upstream per-row on the WARC stream.
      val docs = t(s, dir, "documents")
      val body = concat(lit("<html><body><h1>"), col("source"),
        lit("</h1><p>"), col("text"),
        lit("</p><script>if(1<2){}</script></body></html>")).cast("binary")
      val ct = lit("text/html; charset=utf-8").as("http_content_type")
      val v1 = docs.select(concat(lit("HTTP://"), upper(col("source")),
          lit(".EXAMPLE.ORG:80/"), col("lang"), lit("/./"), col("doc_id"),
          lit("?utm_id=1")).as("uri"), body.as("body"), ct)
      val v2 = docs.select(concat(lit("http://"), col("source"),
          lit(".example.org/x/../"), col("lang"), lit("/"),
          col("doc_id")).as("uri"), body.as("body"), ct)
      val path = rtDir(dir, "crawl")
      Option(new java.io.File(path).listFiles()).foreach(_.foreach(_.delete()))
      graft.sources.Warc.write(v1.unionByName(v2).repartition(8), path)
      val back = graft.sources.Warc.read(s, path + "/*.warc.gz")
        .select(
          graft.functions.UrlNormalize.urlNormalize(col("target_uri")).as("u"),
          graft.functions.HtmlText.htmlText(col("payload").cast("string"))
            .as("txt"))
      back.groupBy(col("u"), col("txt")).agg(count(lit(1)).as("copies"))
        .select(regexp_extract(col("u"), "example\\.org/([a-z]+)/", 1)
          .as("lang"), col("copies"), col("txt"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_pages"),
          sum(col("copies")).as("n_fetches"),
          sum(conv(substring(md5(col("txt")), 1, 8), 16, 10).cast("long"))
            .as("text_sum"))
    },
      // the double-fetch collapses to one page per document; extracted text
      // is "source + collapsed body text" by the html_text contract
      """with e as (select lang,
        |  source || ' ' || trim(regexp_replace(text, '\s+', ' ', 'g')) txt
        |  from documents)
        |select lang, cast(count(*) as bigint) n_pages,
        |  cast(2 * count(*) as bigint) n_fetches,
        |  cast(sum(cast(concat('0x', substr(md5(txt), 1, 8)) as ubigint))
        |    as bigint) text_sum
        |from e group by lang""".stripMargin),

    Query("q_charset_sniff", (s, dir) => {
      // Charset sniffing (CharsetSniffExpr): payloads planted in five
      // byte shapes — plain ASCII, valid multibyte UTF-8, latin-1 high
      // bytes, NUL-bearing binary, UTF-8 BOM — must classify exactly;
      // the oracle derives each doc's label from the planting
      // arithmetic. The dispatch step between Warc payloads and
      // html_text; per-row, shuffle-free below the final agg.
      val docs = t(s, dir, "documents")
      val m = pmod(col("doc_id"), lit(5))
      val payload = when(m === 0, col("text").cast("binary"))
        .when(m === 1, concat(col("text"), lit(" \u00e9\u4e16")).cast("binary"))
        .when(m === 2, encode(concat(col("text"), lit(" caf\u00e9")), "ISO-8859-1"))
        .when(m === 3, concat(col("text").cast("binary"),
          lit(Array[Byte](0, 1, 2))))
        .otherwise(concat(
          lit(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)),
          col("text").cast("binary")))
      docs.select(
          graft.functions.CharsetSniff.charsetSniff(payload).as("charset"),
          col("doc_id"))
        .groupBy(col("charset"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
    },
      // label follows the planting arithmetic exactly
      """select case doc_id % 5 when 0 then 'ascii' when 1 then 'utf-8'
        |  when 2 then 'latin-1' when 3 then 'binary'
        |  else 'utf-8-bom' end charset,
        | cast(count(*) as bigint) n, cast(sum(doc_id) as bigint) id_sum
        |from documents group by 1""".stripMargin),

    Query("q_tfrecord_roundtrip", (s, dir) => {
      // TFRecord export + re-ingest (sources/TfRecord — the TensorFlow
      // container's public framing: LE length + masked crc32c of
      // header AND payload): every document rides one record through
      // 8 shards (the ecosystem's file-level parallelism — the format
      // is unsplittable by design) and back; both CRCs verify on read,
      // and the checksum columns reconstruct source/lang/doc_id/text
      // from the TFRecord surface alone, so green proves byte-faithful
      // framing end to end.
      val docs = t(s, dir, "documents")
      val path = rtDir(dir, "tfrecord")
      Option(new java.io.File(path).listFiles())
        .foreach(_.foreach(_.delete())) // idempotent re-run
      graft.sources.TfRecord.write(
        docs.select(concat_ws("\u0002", col("source"), col("lang"),
          col("doc_id"), col("text")).cast("binary").as("p"))
          .repartition(8),
        "p", path)
      graft.sources.TfRecord.read(s, path + "/*.tfrecord")
        .select(split(col("payload").cast("string"), "\u0002", 4).as("f"))
        .select(col("f")(0).as("source"), col("f")(1).as("lang"),
          col("f")(2).cast("long").as("doc_id"), col("f")(3).as("text"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_recs"),
          sum(col("doc_id")).as("id_sum"),
          sum(conv(substring(md5(concat(col("source"), col("text"))), 1, 8),
            16, 10).cast("long")).as("text_sum"),
          sum(length(col("text"))).as("sum_chars"))
    },
      // round-trip identity: the TFRecord surface must reconstruct the
      // table exactly
      """select lang, count(*) n_recs,
        |  cast(sum(doc_id) as bigint) id_sum,
        |  cast(sum(cast(concat('0x', substr(md5(concat(source, text)),
        |    1, 8)) as bigint)) as bigint) text_sum,
        |  cast(sum(length(text)) as bigint) sum_chars
        |from documents group by lang""".stripMargin)
  )
}
