package graft
package queries

import org.apache.spark.sql.functions._
import Shared._

/** Lake and streaming fixtures: versioned-lake and z-order lake
  * commits, prune reads, MERGE and the stream triggers that feed them.
  * The stateful fixtures commit under a fresh temp root that
  * [[Shared.withFixtureRoot]] removes. */
private[graft] object Lakes {

  val queries: Seq[Query] = Seq(

    Query("q_stream_tumbling", (s, dir) => {
      graft.streaming.Streams.tumblingAgg(s, dir, "6 hours",
        s"stream_tumbling_${System.nanoTime()}")
    },
      """select make_timestamp(cast(floor(epoch_us(ts)/(21600*1000000.0))
        |   *21600*1000000 as bigint)) w_start,
        | event_type, count(*) n, cast(cast(sum(value) as decimal(38,6)) as double) total
        |from events group by 1,2""".stripMargin),

    Query("q_lake_partition_prune", (s, dir) => {
      // Hive-style partitioned lake write + pruned read-back: lang moves
      // into the directory key, and the lang-filtered scan must list only
      // the matching partitions (FormatsSpec pins selectedPartitions ==
      // filter arity — the property that makes a per-language pass over a
      // 100 TB corpus read 1/25th of it). Checksum proves the partition
      // column round-trips losslessly back into rows.
      val docs = t(s, dir, "documents")
      val path = rtDir(dir, "lakepart")
      docs.write.mode("overwrite").partitionBy("lang").parquet(path)
      docChecksum(s.read.parquet(path)
        .filter(col("lang").isin("en", "zh")))
    },
      s"$docChecksumSql where lang in ('en', 'zh') group by lang"),

    Query("q_zorder3_layout", (s, dir) => {
      // Three-dim z-order (Lake.zOrderFrame3 / Morton3 — the
      // time×lat×lon climate-lake layout): grid scale all three key
      // columns off one min/max broadcast, interleave to a 48-bit key,
      // bucket by the top 5 bits, roll up per-bucket 3-D bounding
      // boxes — the data-skipping evidence. Oracle replays the scales
      // and the 48-term interleave bit-for-bit.
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"))
      graft.sources.Lake
        .zOrderFrame3(li, "l_partkey", "l_suppkey", "l_orderkey")
        .select(shiftright(col("zval"), 43).as("zbucket"),
          col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
          col("zval"))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"),
          min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
          // 48-bit keys: a raw sum would overflow int64 at sf0.1 —
          // modular checksum instead
          sum(pmod(col("zval"), lit(1000000007L))).as("zmod_sum"))
    },
      // three grid scales + the 48-term interleave replayed inline
      (s"""with bd as (select
         |   cast(min(l_partkey) as bigint) minx,
         |   cast(max(l_partkey) as bigint) maxx,
         |   cast(min(l_suppkey) as bigint) miny,
         |   cast(max(l_suppkey) as bigint) maxy,
         |   cast(min(l_orderkey) as bigint) minz,
         |   cast(max(l_orderkey) as bigint) maxz from lineitem),
         |sc as (select l_partkey, l_suppkey, l_orderkey,
         |   case when maxx = minx then 0 else
         |     cast((((cast(l_partkey as bigint) - minx) * 65535)
         |       - (((cast(l_partkey as bigint) - minx) * 65535)
         |          % (maxx - minx))) / (maxx - minx) as bigint) end x,
         |   case when maxy = miny then 0 else
         |     cast((((cast(l_suppkey as bigint) - miny) * 65535)
         |       - (((cast(l_suppkey as bigint) - miny) * 65535)
         |          % (maxy - miny))) / (maxy - miny) as bigint) end y,
         |   case when maxz = minz then 0 else
         |     cast((((cast(l_orderkey as bigint) - minz) * 65535)
         |       - (((cast(l_orderkey as bigint) - minz) * 65535)
         |          % (maxz - minz))) / (maxz - minz) as bigint) end z
         | from lineitem cross join bd),
         |zz as (select l_partkey, l_suppkey, l_orderkey,
         |   cast(${graft.functions.Morton3.sqlReplay("x", "y", "z")}
         |     as bigint) zval
         | from sc)
         |select zval >> 43 zbucket, count(*) n_rows,
         |  min(l_partkey) min_pk, max(l_partkey) max_pk,
         |  min(l_suppkey) min_sk, max(l_suppkey) max_sk,
         |  min(l_orderkey) min_ok, max(l_orderkey) max_ok,
         |  cast(sum(zval % 1000000007) as bigint) zmod_sum
         |from zz group by 1""").stripMargin),

    Query("q_stream_bloom", (s, dir) => withFixtureRoot("graft_bloomlake_q_") { root =>
      // Streaming Bloom maintenance under the gate (Streams
      // .bloomReplayVersioned + VersionedLake.applyOrBatch): docs ≡3
      // (mod 4) seed the membership lake, three micro-batches OR their
      // word tables in through the versioned pointer, and the final
      // snapshot answers probes. OR is idempotent — replay-safe even
      // without the batchId gate (StreamingSpec forces a re-apply) —
      // and the oracle's one-pass whole-corpus bloom must hash-match
      // init + 3 streamed commits exactly.
      val m = 65536L
      val base = t(s, dir, "documents")
        .select(col("source"), pmod(col("doc_id"), lit(4)).as("g"),
          explode(filter(split(lower(trim(col("text"))), "\\s+"),
            x => length(x) > 0)).as("sh"))
      val initial = base.filter(col("g") === 3).select("source", "sh")
      val batches = Seq(0, 1, 2).map(i =>
        base.filter(col("g") === i).select("source", "sh"))
      val table = s"bloomlake_q_${System.nanoTime()}"
      val fin = graft.streaming.Streams.bloomReplayVersioned(
        s, initial, batches, root, table, "source", "sh", m, 4, 4)
      val p = graft.sources.VersionedLake.readPointer(root).get
      val out = pipeline.Sketches.bloomContains(fin,
          Seq("data", "the", "qwxyz"), m)
        .select(col("grp").as("source"), col("probe"), col("present"),
          col("n_words"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .localCheckpoint(true) // 60 rows, eager: the snapshots can go
      graft.sources.VersionedLake.destroy(s, root, table)
      out
    },
      // whole-corpus bloom in one pass == init + 3 streamed OR-commits;
      // same membership join; pointer evidence in closed form
      """with nrm as (select source,
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t
        | from documents),
        |sh as (select distinct source, tok g
        | from nrm, unnest(string_split_regex(t, ' ')) u(tok)
        | where length(tok) > 0),
        |ds as (select * from (values (0), (1), (2), (3)) dv(d)),
        |pos as (select source,
        |   cast(concat('0x', substr(md5(g), 1 + 8 * d, 8)) as bigint)
        |     % 65536 bp
        | from sh cross join ds),
        |blm as (select source, bp >> 5 word,
        |   bit_or(1::bigint << cast(bp % 32 as int)) bits
        | from pos group by 1, 2),
        |pr as (select * from (values ('data'), ('the'),
        |   ('qwxyz')) pv(probe)),
        |np as (select s.source, probe,
        |   cast(concat('0x', substr(md5(probe), 1 + 8 * d, 8)) as bigint)
        |     % 65536 bp
        | from (select distinct source from documents) s
        | cross join pr cross join ds),
        |nw as (select source, probe, bp >> 5 word,
        |   bit_or(1::bigint << cast(bp % 32 as int)) need
        | from np group by 1, 2, 3),
        |j as (select nw.source, nw.probe,
        |   (coalesce(blm.bits, 0) & nw.need) = nw.need hit
        | from nw left join blm
        |   on nw.source = blm.source and nw.word = blm.word)
        |select source, probe, bool_and(hit) present,
        |  cast(count(*) as bigint) n_words,
        |  3 snap_version, cast(2 as bigint) last_batch
        |from j group by 1, 2""".stripMargin),

    Query("q_analyze_columns", (s, dir) => {
      // ANALYZE in one scan (Lake.analyzeColumns): rows/nulls/min/max/
      // exact-distinct for four engine-string-stable lineitem columns
      // out of a single aggregation (multi-distinct expands, still one
      // table pass). The stats table is what a 100 TB planner consumes
      // for join reorder and broadcast decisions; the oracle states
      // each column's row in plain SQL.
      graft.sources.Lake.analyzeColumns(
        t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_returnflag", "l_shipdate"))
    },
      // per-column stats stated in plain SQL, one UNION arm per column
      """with b as (select cast(count(*) as bigint) n from lineitem)
        |select 'l_orderkey' col_name, n n_rows,
        |  (select cast(sum(case when l_orderkey is null then 1 else 0 end)
        |     as bigint) from lineitem) n_nulls,
        |  (select cast(min(l_orderkey) as varchar) from lineitem) min_v,
        |  (select cast(max(l_orderkey) as varchar) from lineitem) max_v,
        |  (select cast(count(distinct l_orderkey) as bigint) from lineitem)
        |    n_distinct
        |from b
        |union all
        |select 'l_partkey', n,
        |  (select cast(sum(case when l_partkey is null then 1 else 0 end)
        |     as bigint) from lineitem),
        |  (select cast(min(l_partkey) as varchar) from lineitem),
        |  (select cast(max(l_partkey) as varchar) from lineitem),
        |  (select cast(count(distinct l_partkey) as bigint) from lineitem)
        |from b
        |union all
        |select 'l_returnflag', n,
        |  (select cast(sum(case when l_returnflag is null then 1 else 0 end)
        |     as bigint) from lineitem),
        |  (select min(l_returnflag) from lineitem),
        |  (select max(l_returnflag) from lineitem),
        |  (select cast(count(distinct l_returnflag) as bigint) from lineitem)
        |from b
        |union all
        |select 'l_shipdate', n,
        |  (select cast(sum(case when l_shipdate is null then 1 else 0 end)
        |     as bigint) from lineitem),
        |  (select cast(min(l_shipdate) as varchar) from lineitem),
        |  (select cast(max(l_shipdate) as varchar) from lineitem),
        |  (select cast(count(distinct l_shipdate) as bigint) from lineitem)
        |from b""".stripMargin),

    Query("q_stream_dd_sketch", (s, dir) => withFixtureRoot("graft_ddlake_q_") { root =>
      // Streaming DDSketch maintenance under the gate (Streams
      // .ddSketchReplayVersioned + VersionedLake.applyAdditiveBatch):
      // docs ≡3 (mod 4) seed the sketch lake, three micro-batches add
      // their per-batch counter tables through the versioned pointer —
      // counter ADDITION is non-idempotent, so exactly-once rides the
      // batchId gate, rehearsed incl. replay in StreamingSpec — and the
      // final pointer snapshot answers token-count quantiles. The
      // oracle sketches the whole corpus in one pass: a hash match
      // proves init + 3 additive commits == whole, plus the closed-form
      // pointer evidence (3 non-empty batches → v3, lastBatch 2).
      val base = t(s, dir, "documents")
        .select(col("source"), pmod(col("doc_id"), lit(4)).as("m"),
          size(split(lower(trim(col("text"))), "\\s+")).cast("long")
            .as("ntok"))
      val initial = base.filter(col("m") === 3).select("source", "ntok")
      val batches = Seq(0, 1, 2).map(i =>
        base.filter(col("m") === i).select("source", "ntok"))
      val table = s"ddlake_q_${System.nanoTime()}"
      val fin = graft.streaming.Streams.ddSketchReplayVersioned(
        s, initial, batches, root, table, "source", "ntok", 4)
      val p = graft.sources.VersionedLake.readPointer(root).get
      val out = pipeline.Sketches.ddQuantiles(fin, Seq(0.5, 0.9))
        .select(col("grp").as("source"), col("q"), col("n"), col("sign"),
          col("bucket"), col("cum"), col("est"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .localCheckpoint(true) // 40 rows, eager: the snapshots can go
      graft.sources.VersionedLake.destroy(s, root, table)
      out
    },
      // whole-corpus token-count sketch in one pass — hash equality
      // against init + 3 streamed additive commits proves the versioned
      // counter pipeline end to end; pointer evidence in closed form
      """with v as (select source,
        |    cast(len(string_split_regex(lower(trim(text)), '\s+'))
        |      as double) x
        |  from documents),
        |lv as (select source, x,
        |    cast(floor(ln(case when x = 0 then 1 else abs(x) end)
        |         * 1e6 + 0.5) as bigint) l from v),
        |b as (select source,
        |    case when x > 0 then 1 when x < 0 then -1 else 0 end sign,
        |    case when x = 0 then 0
        |      else cast((l - ((l % 19803 + 19803) % 19803)) / 19803 as bigint)
        |    end bucket
        |  from lv),
        |h as (select source, sign, bucket, cast(count(*) as bigint) cnt
        |  from b group by 1, 2, 3),
        |c as (select source, sign, bucket, cnt,
        |    cast(sum(cnt) over (partition by source
        |      order by sign, sign * bucket
        |      rows between unbounded preceding and current row) as bigint) cum,
        |    cast(sum(cnt) over (partition by source) as bigint) n from h),
        |qs as (select cast(q as double) q
        |  from (values (0.5), (0.9)) qv(q))
        |select source, q, n, sign, bucket, cum,
        |  case when sign = 0 then 0.0 else
        |    sign * (floor(exp((bucket * 19803) / 1e6) * 1e6 + 0.5) / 1e6)
        |  end est,
        |  3 snap_version, cast(2 as bigint) last_batch
        |from c join qs on (cum - cnt) <= floor(q * (n - 1))
        |  and floor(q * (n - 1)) < cum""".stripMargin),

    Query("q_stream_sample", (s, dir) => withFixtureRoot("graft_smplake_q_") { root =>
      // r14: streaming uniform-sample maintenance (Streams
      // .sampleSinkVersioned + VersionedLake.applyBottomKBatch): docs
      // ≡3 (mod 4) seed a per-source bottom-32-by-hash60 table, three
      // micro-batches merge the other quarters through the versioned
      // pointer. Hash-order is uniform ⇒ the kept set is an exact
      // uniform 32-sample of everything streamed; bottom-k of a union
      // is the union's bottom-k ⇒ the oracle takes bottom-32 of the
      // WHOLE corpus in one window — row-set agreement proves the
      // streamed maintenance exactly. Third merge-contract class:
      // idempotent AND order-free (spec contrasts vs the additive
      // gate with a forced re-apply).
      val docs = t(s, dir, "documents").select(col("source"), col("doc_id"))
      val m = pmod(col("doc_id"), lit(4))
      val table = s"smplake_q_${System.nanoTime()}"
      val fin = graft.streaming.Streams.sampleReplayVersioned(
        s, docs.filter(m === 3),
        Seq(0, 1, 2).map(i => docs.filter(m === i)),
        root, table, "source", "doc_id", k = 32, buckets = 4)
      val p = graft.sources.VersionedLake.readPointer(root).get
      val out = fin
        .select(col("grp").as("source"), col("hv"),
          col("id").cast("long").as("doc_id"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .localCheckpoint(true) // 32×sources rows, eager: snapshots go
      graft.sources.VersionedLake.destroy(s, root, table)
      out
    },
      // bottom-32 by the same md5-derived 60-bit hash over the whole
      // corpus in one window — order-free merge makes streamed == whole;
      // pointer closed-form (3 non-empty batches → v3, lastBatch 2)
      """with hv as (select source,
        |   cast(concat('0x', substr(md5(cast(doc_id as varchar)), 1, 15))
        |     as bigint) hv,
        |   doc_id from documents),
        |rk as (select source, hv, doc_id,
        |   row_number() over (partition by source order by hv) rk from hv)
        |select source, hv, cast(doc_id as bigint) doc_id,
        |  cast(3 as int) snap_version, cast(2 as bigint) last_batch
        |from rk where rk <= 32""".stripMargin),

    Query("q_zorder_incremental", (s, dir) => withFixtureRoot("graft_zolake_q_") { tmp =>
      // r14: INCREMENTAL z-order maintenance (ZOrderLake + the
      // streaming sink): the lake inits z-ordered from the ≡3 (mod 4)
      // quarter of lineitem — grid bounds PIN there — and three
      // streamed batches (the other quarters) each rewrite only the
      // slabs their z-range touches, through the manifest + pointer
      // swap. Batch keys outside the pinned box clamp to the border
      // cell (zval only; stored values stay raw). The oracle computes
      // the SAME bucket/bbox evidence from scratch over all four
      // quarters — agreement proves the incremental path lost nothing,
      // duplicated nothing, and kept every zval on the pinned grid;
      // StreamingSpec pins the incrementality itself (v0 slabs carried
      // by reference, disjoint slab ranges, box scan opens few files).
      // the ≡<4 (mod 16) sixteenth-quarters: the mod-sliced batches
      // span the full z-range (every batch rewrites every slab — the
      // worst case for the incremental path, deliberately), so the
      // fixture subsets to a quarter of the table to keep 4 full
      // rewrites bench-proportionate; locality (few slabs touched) is
      // StreamingSpec's pin
      val li = t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(16)) < 4)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      val m = pmod(col("l_orderkey"), lit(16))
      val init = li.filter(m === 3).drop("l_orderkey")
      val batches = Seq(0, 1, 2).map(i => li.filter(m === i).drop("l_orderkey"))
      val root = tmp + "/zo"
      val fin = graft.streaming.Streams.zOrderReplayVersioned(
        s, init, batches, root, "l_partkey", "l_suppkey", targetRows = 16384)
      val p = graft.sources.ZOrderLake.readPointer(root).get
      val out = fin
        .groupBy(shiftright(col("zval"), 27).as("zbucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"),
          sum(col("zval")).as("zval_sum"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .localCheckpoint(true) // ≤ 32 rows, eager: the lake can go
      graft.sources.ZOrderLake.destroy(root)
      out
    },
      // the same bucket/bbox evidence computed from scratch: bounds pin
      // on the ≡3 (mod 4) init quarter, every row clamps into that box
      // for the zval (raw values in the bbox stats), Morton2 replayed
      // bit-for-bit; pointer closed-form (3 non-empty batches → v3,
      // lastBatch 2)
      (s"""with bd as (select cast(min(l_partkey) as bigint) minx,
         |   cast(max(l_partkey) as bigint) maxx,
         |   cast(min(l_suppkey) as bigint) miny,
         |   cast(max(l_suppkey) as bigint) maxy
         | from lineitem where l_orderkey % 16 = 3),
         |cl as (select l_partkey, l_suppkey,
         |   least(greatest(cast(l_partkey as bigint), minx), maxx) cx,
         |   least(greatest(cast(l_suppkey as bigint), miny), maxy) cy,
         |   minx, maxx, miny, maxy
         | from lineitem cross join bd
         | where l_orderkey % 16 < 4),
         |sc as (select l_partkey, l_suppkey,
         |   case when maxx = minx then 0 else
         |     cast((((cx - minx) * 65535)
         |       - (((cx - minx) * 65535) % (maxx - minx)))
         |       / (maxx - minx) as bigint) end x,
         |   case when maxy = miny then 0 else
         |     cast((((cy - miny) * 65535)
         |       - (((cy - miny) * 65535) % (maxy - miny)))
         |       / (maxy - miny) as bigint) end y
         | from cl),
         |z as (select l_partkey, l_suppkey,
         |   cast(${graft.functions.Morton2.sqlReplay("x", "y")} as bigint) zval
         | from sc)
         |select zval >> 27 zbucket, cast(count(*) as bigint) n_rows,
         |  min(l_partkey) min_pk, max(l_partkey) max_pk,
         |  min(l_suppkey) min_sk, max(l_suppkey) max_sk,
         |  cast(sum(zval) as bigint) zval_sum,
         |  cast(3 as int) snap_version, cast(2 as bigint) last_batch
         |from z group by 1""").stripMargin),

    Query("q_zorder_epochs", (s, dir) => withFixtureRoot("graft_zoep_q_") { tmp =>
      // r15: GRID EPOCHS — the monotone-dimension survival mode. The
      // lake inits on the lowest l_orderkey quartile (epoch-0 bounds
      // pin there), then three strictly-ascending quartile batches
      // march past the pinned hi; each opens (or lands inside) a fresh
      // grid epoch with geometric headroom instead of piling onto the
      // border cells, so existing slabs carry by reference and
      // per-batch cost stays O(batch) (LakeSpec pins the slab counts).
      // The oracle recomputes contents and a box-read twin from
      // scratch: agreement proves the epoch rolls lost nothing,
      // duplicated nothing, and that readBox's per-epoch BIGMIN union
      // is row-identical to the plain filter.
      val li = t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(16)) < 4)
        .select(col("l_orderkey").cast("long").as("okey"),
          col("l_partkey").cast("long").as("pk"),
          col("l_suppkey").cast("long").as("sk"))
      val bd = li.agg(max("okey"), max("sk")).head()
      val mx = bd.getLong(0); val q = mx / 4; val skMax = bd.getLong(1)
      val init = li.filter(col("okey") <= q)
      val batches = Seq(1, 2, 3).map { i =>
        val upper = if (i < 3) col("okey") <= (i + 1) * q else lit(true)
        li.filter(col("okey") > i * q && upper)
      }
      val root = tmp + "/zo"
      val fin = graft.streaming.Streams.zOrderReplayVersioned(
        s, init, batches, root, "okey", "sk", targetRows = 16384)
      // the mechanism must actually fire: monotone quartiles past the
      // pinned hi must open at least one new epoch
      require(graft.sources.ZOrderLake.readEpochs(root).size >= 2,
        "monotone ingest opened no grid epoch")
      val p = graft.sources.ZOrderLake.readPointer(root).get
      // newest-quartile box read through the per-epoch z-decomposition
      val box = graft.sources.ZOrderLake.readBox(s, root,
        Seq(3 * q + 1, 1L), Seq(mx, skMax / 2))
        .agg(count(lit(1)).cast("long").as("box_rows"),
          coalesce(sum("pk"), lit(0L)).as("box_pk_sum"))
      val out = fin.groupBy(pmod(col("pk"), lit(16)).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("okey")).as("okey_sum"), sum(col("sk")).as("sk_sum"),
          min(col("okey")).as("min_okey"), max(col("okey")).as("max_okey"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .crossJoin(box)
        .localCheckpoint(true) // 16 rows, eager: the lake can go
      graft.sources.ZOrderLake.destroy(root)
      out
    },
      // from-scratch twin of the epoch'd lake: contents (bucketed sums)
      // over all four quartiles + the newest-quartile box as a plain
      // filter; pointer closed-form (3 non-empty batches → v3, lastBatch
      // 2). zvals are deliberately NOT replayed — each epoch has its own
      // grid; the evidence is content fidelity through the rolls and the
      // box-read == filter identity.
      ("""with li as (select cast(l_orderkey as bigint) okey,
         |   cast(l_partkey as bigint) pk, cast(l_suppkey as bigint) sk
         | from lineitem where l_orderkey % 16 < 4),
         |bd as (select max(okey)//4 q, max(okey) mx, max(sk) skmax from li),
         |bx as (select cast(count(*) as bigint) box_rows,
         |   cast(coalesce(sum(pk), 0) as bigint) box_pk_sum
         | from li cross join bd
         | where okey > 3*q and okey <= mx and sk between 1 and skmax//2)
         |select pk % 16 bucket, cast(count(*) as bigint) n_rows,
         |  cast(sum(okey) as bigint) okey_sum, cast(sum(sk) as bigint) sk_sum,
         |  min(okey) min_okey, max(okey) max_okey,
         |  cast(3 as int) snap_version, cast(2 as bigint) last_batch,
         |  box_rows, box_pk_sum
         |from li cross join bx
         |group by 1, box_rows, box_pk_sum""").stripMargin),

    Query("q_zorder_rebuild", (s, dir) => withFixtureRoot("graft_zoreb_q_") { tmp =>
      // r16: CROSS-EPOCH REBUILD — the maintenance half epochs need at
      // lake age. Same monotone-quartile ingest as q_zorder_epochs
      // (≥2 epochs open), then `rebuild` re-zvals everything onto ONE
      // fresh epoch covering the full domain: a maintenance version
      // (lastBatch unchanged, version +1 over the ingest tail), every
      // live slab in the new epoch, contents and a box-read twin
      // byte-identical to the from-scratch oracle — proof the O(corpus)
      // rewrite lost nothing while collapsing the per-epoch read tax.
      val li = t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(16)) < 4)
        .select(col("l_orderkey").cast("long").as("okey"),
          col("l_partkey").cast("long").as("pk"),
          col("l_suppkey").cast("long").as("sk"))
      val bd = li.agg(max("okey"), max("sk")).head()
      val mx = bd.getLong(0); val q = mx / 4; val skMax = bd.getLong(1)
      val init = li.filter(col("okey") <= q)
      val batches = Seq(1, 2, 3).map { i =>
        val upper = if (i < 3) col("okey") <= (i + 1) * q else lit(true)
        li.filter(col("okey") > i * q && upper)
      }
      val root = tmp + "/zo"
      graft.streaming.Streams.zOrderReplayVersioned(
        s, init, batches, root, "okey", "sk", targetRows = 16384)
      import graft.sources.ZOrderLake
      require(ZOrderLake.readEpochs(root).size >= 2,
        "monotone ingest opened no grid epoch")
      val pBefore = ZOrderLake.readPointer(root).get
      val newEpoch = ZOrderLake.rebuild(s, root, targetRows = 16384)
      val p = ZOrderLake.readPointer(root).get
      require(p.lastBatch == pBefore.lastBatch &&
        p.version == pBefore.version + 1,
        "rebuild must be a maintenance version")
      require(ZOrderLake.readManifest(root, p.version)
        .forall(_.epoch == newEpoch), "slabs left outside the rebuild epoch")
      val box = ZOrderLake.readBox(s, root,
        Seq(3 * q + 1, 1L), Seq(mx, skMax / 2))
        .agg(count(lit(1)).cast("long").as("box_rows"),
          coalesce(sum("pk"), lit(0L)).as("box_pk_sum"))
      val out = ZOrderLake.current(s, root)
        .groupBy(pmod(col("pk"), lit(16)).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("okey")).as("okey_sum"), sum(col("sk")).as("sk_sum"),
          min(col("okey")).as("min_okey"), max(col("okey")).as("max_okey"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .crossJoin(box)
        .localCheckpoint(true) // 16 rows, eager: the lake can go
      ZOrderLake.destroy(root)
      out
    },
      // rebuild twin: contents unchanged by the maintenance rewrite, so
      // the oracle is q_zorder_epochs' from-scratch twin with the pointer
      // advanced one maintenance version (v4) at the same lastBatch
      ("""with li as (select cast(l_orderkey as bigint) okey,
         |   cast(l_partkey as bigint) pk, cast(l_suppkey as bigint) sk
         | from lineitem where l_orderkey % 16 < 4),
         |bd as (select max(okey)//4 q, max(okey) mx, max(sk) skmax from li),
         |bx as (select cast(count(*) as bigint) box_rows,
         |   cast(coalesce(sum(pk), 0) as bigint) box_pk_sum
         | from li cross join bd
         | where okey > 3*q and okey <= mx and sk between 1 and skmax//2)
         |select pk % 16 bucket, cast(count(*) as bigint) n_rows,
         |  cast(sum(okey) as bigint) okey_sum, cast(sum(sk) as bigint) sk_sum,
         |  min(okey) min_okey, max(okey) max_okey,
         |  cast(4 as int) snap_version, cast(2 as bigint) last_batch,
         |  box_rows, box_pk_sum
         |from li cross join bx
         |group by 1, box_rows, box_pk_sum""").stripMargin),

    Query("q_zorder3_incremental", (s, dir) => withFixtureRoot("graft_zo3lake_q_") { tmp =>
      // r14: the 3-D incremental lake — the (time, lat, lon)-shaped
      // clustering under continuous ingest. Same contract as
      // q_zorder_incremental (bounds pin on the ≡3 quarter, clamp to
      // the border cell, touched-slab rewrite through the pointer) but
      // the key is the 48-bit Morton3 interleave and the touched-cell
      // grid sits at zval >> 36. Oracle recomputes the bucket/bbox
      // evidence from scratch; 48-bit sums checksum modularly.
      // same sixteenth-quarter subsetting as q_zorder_incremental (the
      // mod batches are full-z-span worst cases; see that query's note)
      val li = t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(16)) < 4)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      val m = pmod(col("l_orderkey"), lit(16))
      val init = li.filter(m === 3)
      val batches = Seq(0, 1, 2).map(i => li.filter(m === i))
      val root = tmp + "/zo"
      val fin = graft.streaming.Streams.zOrderReplayVersioned(
        s, init, batches, root,
        Seq("l_partkey", "l_suppkey", "l_orderkey"), 16384L, 2)
      val p = graft.sources.ZOrderLake.readPointer(root).get
      val out = fin
        .groupBy(shiftright(col("zval"), 43).as("zbucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"),
          min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
          sum(pmod(col("zval"), lit(1000000007L))).as("zmod_sum"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .localCheckpoint(true) // ≤ 32 rows, eager: the lake can go
      graft.sources.ZOrderLake.destroy(root)
      out
    },
      // 3-D twin of the q_zorder_incremental oracle: bounds off the ≡3
      // quarter, three clamped grid scales, the 48-term Morton3 replay,
      // modular zval checksum (48-bit raw sums overflow int64)
      (s"""with bd as (select
         |   cast(min(l_partkey) as bigint) minx,
         |   cast(max(l_partkey) as bigint) maxx,
         |   cast(min(l_suppkey) as bigint) miny,
         |   cast(max(l_suppkey) as bigint) maxy,
         |   cast(min(l_orderkey) as bigint) minz,
         |   cast(max(l_orderkey) as bigint) maxz
         | from lineitem where l_orderkey % 16 = 3),
         |cl as (select l_partkey, l_suppkey, l_orderkey,
         |   least(greatest(cast(l_partkey as bigint), minx), maxx) cx,
         |   least(greatest(cast(l_suppkey as bigint), miny), maxy) cy,
         |   least(greatest(cast(l_orderkey as bigint), minz), maxz) cz,
         |   minx, maxx, miny, maxy, minz, maxz
         | from lineitem cross join bd
         | where l_orderkey % 16 < 4),
         |sc as (select l_partkey, l_suppkey, l_orderkey,
         |   case when maxx = minx then 0 else
         |     cast((((cx - minx) * 65535)
         |       - (((cx - minx) * 65535) % (maxx - minx)))
         |       / (maxx - minx) as bigint) end x,
         |   case when maxy = miny then 0 else
         |     cast((((cy - miny) * 65535)
         |       - (((cy - miny) * 65535) % (maxy - miny)))
         |       / (maxy - miny) as bigint) end y,
         |   case when maxz = minz then 0 else
         |     cast((((cz - minz) * 65535)
         |       - (((cz - minz) * 65535) % (maxz - minz)))
         |       / (maxz - minz) as bigint) end z
         | from cl),
         |zz as (select l_partkey, l_suppkey, l_orderkey,
         |   cast(${graft.functions.Morton3.sqlReplay("x", "y", "z")}
         |     as bigint) zval
         | from sc)
         |select zval >> 43 zbucket, cast(count(*) as bigint) n_rows,
         |  min(l_partkey) min_pk, max(l_partkey) max_pk,
         |  min(l_suppkey) min_sk, max(l_suppkey) max_sk,
         |  min(l_orderkey) min_ok, max(l_orderkey) max_ok,
         |  cast(sum(zval % 1000000007) as bigint) zmod_sum,
         |  cast(3 as int) snap_version, cast(2 as bigint) last_batch
         |from zz group by 1""").stripMargin),

    Query("q_zorder_box_read", (s, dir) => withFixtureRoot("graft_zobox_q_") { tmp =>
      // r14: box scan through the z-layout ALONE (Morton2.zRangesForBox
      // — the Tropf–Herzog BIGMIN decomposition as a quadtree walk →
      // ZOrderLake.readBox): the value box maps onto the pinned grid,
      // decomposes into a few z-intervals, and only slabs intersecting
      // one of them open — no per-file x/y stats. Pruning must be
      // invisible: the oracle runs the same box aggregate over the
      // whole table; LakeSpec pins the file-skipping half and the
      // decomposition's exactness/safe-over-approximation.
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val root = tmp + "/zo"
      graft.sources.ZOrderLake.init(li, root, "l_partkey", "l_suppkey",
        targetRows = 16384)
      val out = graft.sources.ZOrderLake.readBox(s, root,
          "l_partkey", "l_suppkey", 100L, 600L, 20L, 60L)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          sum(col("l_quantity").cast("long")).as("qty_sum"))
        .localCheckpoint(true) // small, eager: the lake can go
      graft.sources.ZOrderLake.destroy(root)
      out
    },
      // pruning by z-intervals must be row-identical to the plain box
      // filter — the oracle IS the unpruned scan
      """select l_suppkey, cast(count(*) as bigint) n_rows,
        |  min(l_partkey) min_pk, max(l_partkey) max_pk,
        |  cast(sum(cast(l_quantity as bigint)) as bigint) qty_sum
        |from lineitem
        |where l_partkey between 100 and 600 and l_suppkey between 20 and 60
        |group by 1""".stripMargin),

    Query("q_lake_multi_prune", (s, dir) => {
      // r14: conjunctive multi-column range pruning (Lake
      // .readPrunedMulti): lineitem z-ordered on (partkey, suppkey)
      // once per sf, both columns' native-typed per-file boxes prune
      // independently and the candidate sets intersect — the
      // multiplicative payoff a single-column sort cannot give. The
      // oracle is the unpruned AND-filter; LakeSpec pins the file
      // counts (both < x-only).
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val store = fixtureStore("graft_multiprune_" +
          dir.replaceAll("[^0-9a-zA-Z]", "_"), "_SUCCESS") { d =>
        graft.sources.Lake.zOrderWrite(li, "l_partkey", "l_suppkey", d, files = 32)
      }
      val stats = graft.sources.Lake.fileStats(
        s, store, Seq("l_partkey", "l_suppkey"))
      graft.sources.Lake.readPrunedMulti(s, store, stats,
          Seq(("l_partkey", 200L, 800L), ("l_suppkey", 10L, 40L)))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          sum(col("l_quantity").cast("long")).as("qty_sum"))
    },
      // both-range AND filter over the whole table — intersected pruning
      // must be invisible to results
      """select l_suppkey, cast(count(*) as bigint) n_rows,
        |  min(l_partkey) min_pk, max(l_partkey) max_pk,
        |  cast(sum(cast(l_quantity as bigint)) as bigint) qty_sum
        |from lineitem
        |where l_partkey between 200 and 800 and l_suppkey between 10 and 40
        |group by 1""".stripMargin),

    Query("q_lake_range_prune", (s, dir) => {
      // Typed range-pruned read path (Lake.fileStats + Lake.readPruned
      // — Delta/Iceberg data skipping wired into the scan): lineitem is
      // range-sorted on l_orderkey into 16 disjoint-slab files once per
      // sf, the per-file stats keep min/max in the column's NATIVE LONG
      // type (no "9" > "10" string trap), and the range scan opens only
      // the files whose [min,max] box intersects [1000, 3000] — at
      // 100 TB the difference between a metadata lookup and a corpus
      // scan. Pruning must be INVISIBLE to results: the oracle runs the
      // same aggregate over the unpruned table (zero false negatives);
      // LakeSpec pins the skipping half (files opened = O(matching)).
      val li = t(s, dir, "lineitem")
      val store = fixtureStore("graft_rangeprune_" +
          dir.replaceAll("[^0-9a-zA-Z]", "_"), "_SUCCESS") { d =>
        li.repartitionByRange(16, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey")
          .write.mode("overwrite").parquet(d)
      }
      val stats = graft.sources.Lake.fileStats(s, store, Seq("l_orderkey"))
      graft.sources.Lake.readPruned(s, store, stats, "l_orderkey", 1000L, 3000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("qty_sum"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
    },
      // the pruned read must be row-identical to the full range filter —
      // the oracle IS the unpruned scan
      """select l_returnflag, cast(count(*) as bigint) n_rows,
        |  cast(sum(cast(l_quantity as bigint)) as bigint) qty_sum,
        |  min(l_orderkey) min_ok, max(l_orderkey) max_ok
        |from lineitem
        |where l_orderkey between 1000 and 3000
        |group by 1""".stripMargin),

    Query("q_zorder_layout", (s, dir) => {
      // Z-order clustering key (Lake.zOrderFrame / functions.Morton2 —
      // Delta OPTIMIZE ZORDER BY semantics over plain parquet): every
      // (partkey, suppkey) scales to the 2^16 grid by exact integer
      // floor division off a one-row min/max broadcast, interleaves to
      // a 32-bit Morton key, and the top 5 bits bucket the table into
      // the 32 files a zOrderWrite would cut. Per-bucket bounding boxes
      // are the DATA-SKIPPING evidence: compact boxes = a 2-D box
      // predicate prunes to O(perimeter) files (LakeSpec pins ≤ 6/32
      // touched vs ~all under row order). The oracle replays the scale
      // and the 32-term interleave bit-for-bit.
      val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      graft.sources.Lake.zOrderFrame(li, "l_partkey", "l_suppkey")
        .select(col("l_partkey"), col("l_suppkey"), col("zval"),
          shiftright(col("zval"), 27).as("zbucket"))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"),
          ((max(col("l_partkey")) - min(col("l_partkey")) + 1).cast("long") *
            (max(col("l_suppkey")) - min(col("l_suppkey")) + 1).cast("long"))
            .as("bbox_area"),
          sum(col("zval")).as("zval_sum"))
    },
      // exact-integer grid scale + the 32-term Morton interleave replayed
      // inline (functions.Morton2.sqlReplay), then the same top-5-bit
      // bucketing and bounding-box rollup
      (s"""with bd as (select cast(min(l_partkey) as bigint) minx,
         |   cast(max(l_partkey) as bigint) maxx,
         |   cast(min(l_suppkey) as bigint) miny,
         |   cast(max(l_suppkey) as bigint) maxy from lineitem),
         |sc as (select l_partkey, l_suppkey,
         |   case when maxx = minx then 0 else
         |     cast((((cast(l_partkey as bigint) - minx) * 65535)
         |       - (((cast(l_partkey as bigint) - minx) * 65535)
         |          % (maxx - minx)))
         |       / (maxx - minx) as bigint) end x,
         |   case when maxy = miny then 0 else
         |     cast((((cast(l_suppkey as bigint) - miny) * 65535)
         |       - (((cast(l_suppkey as bigint) - miny) * 65535)
         |          % (maxy - miny)))
         |       / (maxy - miny) as bigint) end y
         | from lineitem cross join bd),
         |z as (select l_partkey, l_suppkey,
         |   cast(${graft.functions.Morton2.sqlReplay("x", "y")} as bigint) zval
         | from sc)
         |select zval >> 27 zbucket, count(*) n_rows,
         |  min(l_partkey) min_pk, max(l_partkey) max_pk,
         |  min(l_suppkey) min_sk, max(l_suppkey) max_sk,
         |  cast((max(l_partkey) - min(l_partkey) + 1) as bigint)
         |    * cast((max(l_suppkey) - min(l_suppkey) + 1) as bigint) bbox_area,
         |  cast(sum(zval) as bigint) zval_sum
         |from z group by 1""").stripMargin),

    Query("q_lake_merge", (s, dir) => {
      // MERGE INTO over the orders snapshot (sources/Lake.merge): keys
      // ≡0 (mod 7) update (+100.00), ≡1 delete, ≡2 insert under fresh
      // keys. ONE full-outer join — single scan of each side; evidence
      // is exact key sums and micro-quantized cents.
      val orders = t(s, dir, "orders")
      val target = orders
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m = pmod(col("o_orderkey"), lit(7))
      val changes = orders.filter(m <= 2).select(
        when(m === 2, col("o_orderkey") + lit(100000000L))
          .otherwise(col("o_orderkey")).as("o_orderkey"),
        when(m === 0, lit("update")).when(m === 1, lit("delete"))
          .otherwise(lit("insert")).as("op"),
        col("o_orderstatus"),
        (col("o_totalprice") + lit(100.0)).as("o_totalprice"))
      graft.sources.Lake.merge(target, changes, "o_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(uq(col("o_totalprice"), 100)).as("cents_sum"))
    },
      """with t0 as (select o_orderkey, o_orderstatus, o_totalprice
        |  from orders),
        |ch as (select
        |   case when o_orderkey % 7 = 2 then o_orderkey + 100000000
        |        else o_orderkey end o_orderkey,
        |   case when o_orderkey % 7 = 0 then 'update'
        |        when o_orderkey % 7 = 1 then 'delete'
        |        else 'insert' end op,
        |   o_orderstatus, o_totalprice + 100.0 o_totalprice
        | from orders where o_orderkey % 7 <= 2),
        |mg as (
        |  select t0.o_orderkey,
        |    case when ch.op = 'update' then ch.o_orderstatus
        |         else t0.o_orderstatus end o_orderstatus,
        |    case when ch.op = 'update' then ch.o_totalprice
        |         else t0.o_totalprice end o_totalprice
        |  from t0 left join ch using (o_orderkey)
        |  where ch.op is null or ch.op <> 'delete'
        |  union all
        |  select o_orderkey, o_orderstatus, o_totalprice from ch
        |  where op = 'insert')
        |select o_orderstatus, count(*) n_rows,
        |  cast(sum(o_orderkey) as bigint) key_sum,
        |  cast(sum(floor(o_totalprice * 100 + 0.5)) as bigint) cents_sum
        |from mg group by 1""".stripMargin),

    Query("q_stream_merge", (s, dir) => {
      // Streaming lake upsert (streaming/Streams.mergeReplay): three
      // change batches replayed one-per-micro-batch through a
      // foreachBatch MERGE into a bucketed snapshot. The batches
      // INTERACT across micro-batch boundaries — b1 inserts fresh keys
      // (+1e8) that b2 UPDATES (+999) and b3 partially DELETES, b2's
      // matched insert must no-op, b3 adds a second fresh class (+2e8)
      // — so a single-merge shortcut or out-of-order application
      // cannot reproduce the final state the oracle states in closed
      // form. Final snapshot grouped like q_lake_merge.
      val orders = t(s, dir, "orders")
      val target = orders
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m = pmod(col("o_orderkey"), lit(7))
      def fresh(off: Long) = (col("o_orderkey") + lit(off)).as("o_orderkey")
      val b1 = orders.filter(m === 0).select(col("o_orderkey"),
          lit("update").as("op"), col("o_orderstatus"),
          (col("o_totalprice") + 100.0).as("o_totalprice"))
        .unionByName(orders.filter(m === 2).select(fresh(100000000L),
          lit("insert").as("op"), col("o_orderstatus"),
          (col("o_totalprice") + 10.0).as("o_totalprice")))
      val b2 = orders.filter(m === 1).select(col("o_orderkey"),
          lit("delete").as("op"), col("o_orderstatus"),
          col("o_totalprice"))
        .unionByName(orders.filter(m === 2).select(fresh(100000000L),
          lit("update").as("op"), col("o_orderstatus"),
          (col("o_totalprice") + 999.0).as("o_totalprice")))
        .unionByName(orders.filter(m === 0).select(col("o_orderkey"),
          lit("insert").as("op"), col("o_orderstatus"),
          lit(-1.0).as("o_totalprice"))) // matched insert: must no-op
      val b3 = orders
        .filter(m === 2 && pmod(col("o_orderkey"), lit(3)) === 0)
        .select(fresh(100000000L), lit("delete").as("op"),
          col("o_orderstatus"), col("o_totalprice"))
        .unionByName(orders.filter(m === 3).select(fresh(200000000L),
          lit("insert").as("op"), col("o_orderstatus"),
          (col("o_totalprice") + 20.0).as("o_totalprice")))
      val table = s"stream_merge_${System.nanoTime()}"
      val out = graft.streaming.Streams
        .mergeReplay(s, target, Seq(b1, b2, b3), table, "o_orderkey", 8)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(uq(col("o_totalprice"), 100)).as("cents_sum"))
        .localCheckpoint(true) // 3 rows, eager: the snapshot table can go
      s.sql(s"DROP TABLE IF EXISTS `$table`")
      out
    },
      // the sequentially-merged final state stated in closed form: m≡0
      // updated (+100), m≡1 deleted, originals of m≡2 and m≥3 carried,
      // b1's fresh +1e8 keys end at b2's +999 update except the k%3=0
      // third b3 deletes, b3's +2e8 inserts land at +20; b2's matched
      // insert and b3's unmatched update contribute nothing
      """with t as (select o_orderkey k, o_orderstatus st, o_totalprice p
        |  from orders),
        |f as (
        |  select k, st, p + 100 pv from t where k % 7 = 0
        |  union all select k, st, p from t where k % 7 = 2
        |  union all select k, st, p from t where k % 7 >= 3
        |  union all select k + 100000000, st, p + 999 from t
        |    where k % 7 = 2 and k % 3 <> 0
        |  union all select k + 200000000, st, p + 20 from t where k % 7 = 3
        |)
        |select st o_orderstatus, count(*) n_rows,
        |  cast(sum(k) as bigint) key_sum,
        |  cast(sum(floor(pv * 100 + 0.5)) as bigint) cents_sum
        |from f group by 1""".stripMargin),

    Query("q_stream_merge_versioned", (s, dir) => withFixtureRoot("graft_vlake_q_") { root =>
      // r12: the PRODUCTION streaming-lake form under the gate — the
      // same interacting-batch scenario as q_stream_merge (different
      // deltas, so it is independent evidence) replayed through the
      // VERSIONED sink: each batch MERGEs v(n) → writes snapshot v(n+1)
      // → atomically swaps the pointer file; the final frame is read
      // THROUGH the pointer, and the pointer's (version, last_batch)
      // ride along as evidence columns the oracle states in closed form
      // (3 non-empty batches → v3, lastBatch 2).
      val orders = t(s, dir, "orders")
      val target = orders
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m = pmod(col("o_orderkey"), lit(7))
      def fresh(off: Long) = (col("o_orderkey") + lit(off)).as("o_orderkey")
      val b1 = orders.filter(m === 0).select(col("o_orderkey"),
          lit("update").as("op"), col("o_orderstatus"),
          (col("o_totalprice") + 200.0).as("o_totalprice"))
        .unionByName(orders.filter(m === 2).select(fresh(100000000L),
          lit("insert").as("op"), col("o_orderstatus"),
          (col("o_totalprice") + 30.0).as("o_totalprice")))
      val b2 = orders.filter(m === 1).select(col("o_orderkey"),
          lit("delete").as("op"), col("o_orderstatus"),
          col("o_totalprice"))
        .unionByName(orders.filter(m === 2).select(fresh(100000000L),
          lit("update").as("op"), col("o_orderstatus"),
          (col("o_totalprice") + 1111.0).as("o_totalprice")))
        .unionByName(orders.filter(m === 0).select(col("o_orderkey"),
          lit("insert").as("op"), col("o_orderstatus"),
          lit(-1.0).as("o_totalprice"))) // matched insert: must no-op
      val b3 = orders
        .filter(m === 2 && pmod(col("o_orderkey"), lit(3)) === 0)
        .select(fresh(100000000L), lit("delete").as("op"),
          col("o_orderstatus"), col("o_totalprice"))
        .unionByName(orders.filter(m === 3).select(fresh(200000000L),
          lit("insert").as("op"), col("o_orderstatus"),
          (col("o_totalprice") + 40.0).as("o_totalprice")))
      val table = s"vlake_q_${System.nanoTime()}"
      val fin = graft.streaming.Streams.mergeReplayVersioned(
        s, target, Seq(b1, b2, b3), root, table, "o_orderkey", 8)
      val p = graft.sources.VersionedLake.readPointer(root).get
      val out = fin.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(uq(col("o_totalprice"), 100)).as("cents_sum"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .localCheckpoint(true) // 3 rows, eager: the snapshots can go
      graft.sources.VersionedLake.destroy(s, root, table)
      out
    },
      // same replay algebra as q_stream_merge with the r12 deltas; the
      // versioned sink's pointer lands at (v3, batch 2) — closed form
      """with t as (select o_orderkey k, o_orderstatus st, o_totalprice p
        |  from orders),
        |f as (
        |  select k, st, p + 200 pv from t where k % 7 = 0
        |  union all select k, st, p from t where k % 7 = 2
        |  union all select k, st, p from t where k % 7 >= 3
        |  union all select k + 100000000, st, p + 1111 from t
        |    where k % 7 = 2 and k % 3 <> 0
        |  union all select k + 200000000, st, p + 40 from t where k % 7 = 3
        |)
        |select st o_orderstatus, count(*) n_rows,
        |  cast(sum(k) as bigint) key_sum,
        |  cast(sum(floor(pv * 100 + 0.5)) as bigint) cents_sum,
        |  3 snap_version, cast(2 as bigint) last_batch
        |from f group by 1""".stripMargin),

    Query("q_lake_diff", (s, dir) => {
      // Snapshot diff (Lake.diff) auditing exactly the q_lake_merge
      // change batch: diff(before, merged) must recover the batch —
      // updates as 'updated', deletes as 'deleted', fresh keys as
      // 'inserted', everything else untouched. Integer evidence per
      // change class.
      val orders = t(s, dir, "orders")
      val target = orders
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m = pmod(col("o_orderkey"), lit(7))
      val changes = orders.filter(m <= 2).select(
        when(m === 2, col("o_orderkey") + lit(100000000L))
          .otherwise(col("o_orderkey")).as("o_orderkey"),
        when(m === 0, lit("update")).when(m === 1, lit("delete"))
          .otherwise(lit("insert")).as("op"),
        col("o_orderstatus"),
        (col("o_totalprice") + lit(100.0)).as("o_totalprice"))
      val merged = graft.sources.Lake.merge(target, changes, "o_orderkey")
      graft.sources.Lake.diff(target, merged, "o_orderkey")
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(coalesce(uq(col("after_o_totalprice"), 100), lit(0L)))
            .as("after_cents_sum"))
    },
      // the merge replayed, then a full-outer comparison labels each key;
      // recovers exactly the change batch
      """with t0 as (select o_orderkey, o_orderstatus, o_totalprice
        |  from orders),
        |ch as (select
        |   case when o_orderkey % 7 = 2 then o_orderkey + 100000000
        |        else o_orderkey end o_orderkey,
        |   case when o_orderkey % 7 = 0 then 'update'
        |        when o_orderkey % 7 = 1 then 'delete'
        |        else 'insert' end op,
        |   o_orderstatus, o_totalprice + 100.0 o_totalprice
        | from orders where o_orderkey % 7 <= 2),
        |mg as (
        |  select t0.o_orderkey,
        |    case when ch.op = 'update' then ch.o_orderstatus
        |         else t0.o_orderstatus end o_orderstatus,
        |    case when ch.op = 'update' then ch.o_totalprice
        |         else t0.o_totalprice end o_totalprice
        |  from t0 left join ch using (o_orderkey)
        |  where ch.op is null or ch.op <> 'delete'
        |  union all
        |  select o_orderkey, o_orderstatus, o_totalprice from ch
        |  where op = 'insert'),
        |d as (select coalesce(t0.o_orderkey, mg.o_orderkey) o_orderkey,
        |   case when t0.o_orderkey is null then 'inserted'
        |        when mg.o_orderkey is null then 'deleted'
        |        when t0.o_orderstatus is distinct from mg.o_orderstatus
        |          or t0.o_totalprice is distinct from mg.o_totalprice
        |          then 'updated'
        |        else 'unchanged' end change,
        |   mg.o_totalprice after_price
        | from t0 full outer join mg on t0.o_orderkey = mg.o_orderkey)
        |select change, count(*) n_rows,
        |  cast(sum(o_orderkey) as bigint) key_sum,
        |  cast(sum(coalesce(floor(after_price * 100 + 0.5), 0)) as bigint)
        |    after_cents_sum
        |from d group by 1""".stripMargin)
  )
}
