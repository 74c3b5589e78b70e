package graft
package queries

import graft.pipeline.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Shared._

/** Vector queries over `embeddings`: exact similarity, quantization,
  * k-means / PQ, and the stateful IVF index fixtures. */
private[graft] object Vectors {

  val queries: Seq[Query] = Seq(

    Query("q_cosine_to_query", (s, dir) => {
      // r13: integer-grid cosine (Similarity.cosineQuantized) — the
      // per-element products land on the 1e-12 floor grid and sum as
      // int64, so the double that reaches the filter and the output is
      // bit-identical in any engine replaying the grid expression; the
      // legacy round(,4) safety net is gone
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      e.crossJoin(broadcast(q))
        .withColumn("cosine", Similarity.cosineQuantized(col("embedding"), col("qvec")))
        .filter(col("cosine") > 0.2)
        .select(col("vec_id"), col("cosine"))
    },
      s"""with q as (select embedding qvec from embeddings where vec_id = 0)
         |select vec_id, cosine from (
         | select e.vec_id, ${cosQSql("e.embedding", "q.qvec")} cosine
         | from embeddings e, q) t
         |where cosine > 0.2""".stripMargin),

    Query("q_knn_top3", (s, dir) => {
      // r13 exactGrid: ranks AND scores ride the integer-grid cosine,
      // so row_number ties resolve identically in both engines and the
      // emitted double needs no round
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "query_id", "qvec", 3,
          exactGrid = true)
        .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
    },
      s"""with q as (select vec_id query_id, embedding qvec from embeddings where vec_id < 5),
         |sims as (select q.query_id, e.vec_id,
         |  ${cosQSql("e.embedding", "q.qvec")} cosine
         | from embeddings e, q),
         |ranked as (select query_id, vec_id, cosine,
         |  row_number() over (partition by query_id order by cosine desc, vec_id) rank
         | from sims)
         |select query_id, cast(rank as int) rank, vec_id, cosine
         |from ranked where rank <= 3""".stripMargin),

    Query("q_centroid_dims", (s, dir) => {
      // micro-quantized mean (r10): order-free int64 sum + fixed-order
      // divisions instead of round(avg(float), 6)
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "e")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(uq(col("e").cast("double"), 1e6)).cast("double")
          / count(lit(1)) / lit(1e6)).as("dim_avg"))
    },
      """select label, cast(i as int) pos,
        | cast(sum(cast(floor(cast(embedding[i+1] as double) * 1e6 + 0.5) as bigint))
        |   as double) / count(*) / 1e6 dim_avg
        |from embeddings, (select unnest(range(0,64)) i) t group by 1,2""".stripMargin),

    Query("q_ivf_topk", (s, dir) => {
      // IVF-partitioned ANN: label-mean centroids, probe 3 cells, top-5.
      // r13 exactGrid: the scoring cosine rides the integer grid (exact
      // ranks + unrounded scores); centroid assignment keeps its float
      // arithmetic — the oracle replays it and the fixed corpus sits far
      // off assignment boundaries
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      Similarity.ivfTopK(e, "vec_id", "embedding", "label", q, k = 5, nprobe = 3,
          exactGrid = true)
        .select(col("rank"), col("vec_id"), col("label"), col("cosine"))
    },
      s"""with cent as (
        |  select label, i, avg(cast(embedding[i+1] as double)) m
        |  from embeddings, (select unnest(range(0,64)) i) t group by 1,2),
        |q as (select embedding qv from embeddings where vec_id = 0),
        |qd as (select c.label, sum(pow(cast(q.qv[c.i+1] as double) - c.m, 2)) d2
        |  from cent c, q group by c.label),
        |probe as (select label from qd order by d2, label limit 3),
        |ad as (select e.vec_id, c.label,
        |   sum(pow(cast(e.embedding[c.i+1] as double) - c.m, 2)) d2
        |  from embeddings e, cent c group by 1, 2),
        |assign as (select vec_id, label from (
        |  select vec_id, label, row_number() over (partition by vec_id
        |    order by d2, label) rn from ad) x where rn = 1),
        |cand as (select a.vec_id, a.label, e.embedding
        |  from assign a join probe using (label)
        |  join embeddings e on e.vec_id = a.vec_id),
        |scored as (select vec_id, label,
        |  ${cosQSql("embedding", "q.qv")} cosine
        | from cand, q),
        |ranked as (select *, row_number() over (order by cosine desc, vec_id) rank
        | from scored)
        |select cast(rank as int) rank, vec_id, label, cosine
        |from ranked where rank <= 5""".stripMargin),

    Query("q_ivf_incremental", (s, dir) => withFixtureRoot("graft_ivf_q_") { tmp =>
      // r15: INCREMENTAL IVF index maintenance (pipeline.IvfIndex + the
      // streaming sink) — the ANN twin of q_zorder_incremental, the
      // FAISS/Milvus LSM-segment design on Spark. Centroids PIN on the
      // ≡3 (mod 4) quarter of embeddings (per-label dimension means,
      // ivfTopK's clustering); segment 0 holds that quarter's
      // assignments; three streamed batches (the other quarters) each
      // land as one new immutable segment assigned against the PINNED
      // centroids — existing segments never rewrite, so per-batch cost
      // is O(batch). The oracle recomputes assignments and the probe
      // from scratch: per-list posting stats prove no loss, no
      // duplication and assignment identity through the segment rolls;
      // the probe block proves the directory-pruned top-k (only
      // seg/*/list=K dirs open) equals the full-candidate ranking on
      // the integer-grid cosine.
      val e = t(s, dir, "embeddings")
      val m = pmod(col("vec_id"), lit(4))
      val init = e.filter(m === 3)
      val batches = Seq(0, 1, 2).map(i => e.filter(m === i))
      val cent = init
        .select(col("label").cast("int").as("list"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("list"), col("pos"))
        .agg(avg(col("x").cast("double")).as("mm"))
        .groupBy(col("list"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mm")))),
          st => st.getField("mm")).as("cvec"))
      val root = tmp + "/ivf"
      val fin = graft.streaming.Streams.ivfReplayVersioned(
        s, init, batches, root, "vec_id", "embedding", cent)
      val p = graft.pipeline.IvfIndex.readPointer(root).get
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val probe = graft.pipeline.IvfIndex.probeTopK(s, root, q, k = 5, nprobe = 3)
        .agg(count(lit(1)).as("probe_n"), max(col("cosine")).as("probe_max"),
          min(col("cosine")).as("probe_min"),
          sum(col("vec_id")).as("probe_ids"))
      val out = fin.groupBy(col("list"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("id_sum"),
          min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .crossJoin(probe)
        .localCheckpoint(true) // ≤ nlists rows, eager: the index can go
      graft.pipeline.IvfIndex.destroy(root)
      out
    },
      // from-scratch twin of the incremental IVF index: centroids off the
      // ≡3 quarter (pinned), assignment replayed (argmin by d2 then list —
      // off-boundary float like q_ivf_topk's), per-list posting stats over
      // all four quarters, probe = 3 nearest lists → integer-grid-cosine
      // top-5; pointer closed-form (3 non-empty batches → v3, lastBatch 2)
      (s"""with cent as (
         |  select label list, i, avg(cast(embedding[i+1] as double)) m
         |  from embeddings, (select unnest(range(0,64)) i) t
         |  where vec_id % 4 = 3 group by 1, 2),
         |ad as (select e.vec_id, c.list,
         |   sum(pow(cast(e.embedding[c.i+1] as double) - c.m, 2)) d2
         |  from embeddings e, cent c group by 1, 2),
         |assign as (select vec_id, list from (
         |  select vec_id, list, row_number() over (partition by vec_id
         |    order by d2, list) rn from ad) x where rn = 1),
         |q as (select embedding qv from embeddings where vec_id = 0),
         |qd as (select c.list, sum(pow(cast(q.qv[c.i+1] as double) - c.m, 2)) d2
         |  from cent c, q group by c.list),
         |probe as (select list from qd order by d2, list limit 3),
         |cand as (select a.vec_id, e.embedding
         |  from assign a join probe using (list)
         |  join embeddings e using (vec_id)),
         |scored as (select vec_id, ${cosQSql("embedding", "q.qv")} cosine
         |  from cand, q),
         |top5 as (select * from (select *, row_number()
         |  over (order by cosine desc, vec_id) rk from scored) z where rk <= 5),
         |pb as (select cast(count(*) as bigint) probe_n, max(cosine) probe_max,
         |   min(cosine) probe_min, cast(sum(vec_id) as bigint) probe_ids
         |  from top5)
         |select a.list, cast(count(*) as bigint) n_vecs,
         |  cast(sum(a.vec_id) as bigint) id_sum,
         |  min(a.vec_id) min_id, max(a.vec_id) max_id,
         |  cast(3 as int) snap_version, cast(2 as bigint) last_batch,
         |  probe_n, probe_max, probe_min, probe_ids
         |from assign a cross join pb
         |group by 1, probe_n, probe_max, probe_min, probe_ids""").stripMargin),

    Query("q_ivf_delete", (s, dir) => withFixtureRoot("graft_ivfdel_q_") { tmp =>
      // r15: IVF tombstone deletes + LSM re-insert visibility. Same
      // pinned centroids as q_ivf_incremental; inserts land the ≡0 and
      // ≡1 quarters, a tombstone batch deletes every vec_id ≡0 (mod 8)
      // WITHOUT touching any posting segment, then the ≡2 quarter plus
      // a RE-INSERT of the ≡0 (mod 16) ids lands after it — sequence
      // order makes exactly those live again. The oracle computes the
      // closed-form live set (everything except ≡0 mod 8 ids that were
      // not re-inserted) and the post-delete probe from scratch.
      val e = t(s, dir, "embeddings")
      val m = pmod(col("vec_id"), lit(4))
      val init = e.filter(m === 3)
      val cent = init
        .select(col("label").cast("int").as("list"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("list"), col("pos"))
        .agg(avg(col("x").cast("double")).as("mm"))
        .groupBy(col("list"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mm")))),
          st => st.getField("mm")).as("cvec"))
      val root = tmp + "/ivf"
      import graft.pipeline.IvfIndex
      IvfIndex.init(init, "vec_id", "embedding", cent, root)
      IvfIndex.applyBatch(e.filter(m === 0), "vec_id", "embedding", root, 0L)
      IvfIndex.applyBatch(e.filter(m === 1), "vec_id", "embedding", root, 1L)
      IvfIndex.applyDeleteBatch(
        e.filter(pmod(col("vec_id"), lit(8)) === 0).select(col("vec_id")),
        "vec_id", root, 2L)
      IvfIndex.applyBatch(
        e.filter(m === 2).unionByName(
          e.filter(pmod(col("vec_id"), lit(16)) === 0)),
        "vec_id", "embedding", root, 3L)
      val p = IvfIndex.readPointer(root).get
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val probe = IvfIndex.probeTopK(s, root, q, k = 5, nprobe = 3)
        .agg(count(lit(1)).as("probe_n"), max(col("cosine")).as("probe_max"),
          sum(col("vec_id")).as("probe_ids"))
      val out = IvfIndex.currentAll(s, root).groupBy(col("list"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("id_sum"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .crossJoin(probe)
        .localCheckpoint(true) // ≤ nlists rows, eager: the index can go
      IvfIndex.destroy(root)
      out
    },
      // tombstone-delete twin: the live set is closed-form — every vector
      // except the ≡0 (mod 8) ids that were NOT re-inserted (≡0 mod 16
      // landed again AFTER the tombstone, so sequence order revives them);
      // pointer v4 (2 inserts + 1 delete + 1 insert), lastBatch 3
      (s"""with cent as (
         |  select label list, i, avg(cast(embedding[i+1] as double)) m
         |  from embeddings, (select unnest(range(0,64)) i) t
         |  where vec_id % 4 = 3 group by 1, 2),
         |ad as (select e.vec_id, c.list,
         |   sum(pow(cast(e.embedding[c.i+1] as double) - c.m, 2)) d2
         |  from embeddings e, cent c group by 1, 2),
         |assign as (select vec_id, list from (
         |  select vec_id, list, row_number() over (partition by vec_id
         |    order by d2, list) rn from ad) x where rn = 1),
         |live as (select * from assign
         |  where not (vec_id % 8 = 0 and vec_id % 16 <> 0)),
         |q as (select embedding qv from embeddings where vec_id = 0),
         |qd as (select c.list, sum(pow(cast(q.qv[c.i+1] as double) - c.m, 2)) d2
         |  from cent c, q group by c.list),
         |probe as (select list from qd order by d2, list limit 3),
         |cand as (select a.vec_id, e.embedding
         |  from live a join probe using (list)
         |  join embeddings e using (vec_id)),
         |scored as (select vec_id, ${cosQSql("embedding", "q.qv")} cosine
         |  from cand, q),
         |top5 as (select * from (select *, row_number()
         |  over (order by cosine desc, vec_id) rk from scored) z where rk <= 5),
         |pb as (select cast(count(*) as bigint) probe_n, max(cosine) probe_max,
         |   cast(sum(vec_id) as bigint) probe_ids from top5)
         |select a.list, cast(count(*) as bigint) n_vecs,
         |  cast(sum(a.vec_id) as bigint) id_sum,
         |  cast(4 as int) snap_version, cast(3 as bigint) last_batch,
         |  probe_n, probe_max, probe_ids
         |from live a cross join pb
         |group by 1, probe_n, probe_max, probe_ids""").stripMargin),

    Query("q_ivf_batch_probe", (s, dir) => withFixtureRoot("graft_ivfb_q_") { tmp =>
      // r15: the IVF SERVING shape — per-query top-k for a whole query
      // batch in one pass (probeTopKBatch): each query's nprobe lists
      // compute columnar, only the UNION of needed list directories
      // opens, candidates join the broadcast queries on list
      // membership, and ranking is a per-qid window. The oracle replays
      // the full fan-out per query from scratch.
      val e = t(s, dir, "embeddings")
      val cent = e
        .select(col("label").cast("int").as("list"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("list"), col("pos"))
        .agg(avg(col("x").cast("double")).as("mm"))
        .groupBy(col("list"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mm")))),
          st => st.getField("mm")).as("cvec"))
      val root = tmp + "/ivf"
      import graft.pipeline.IvfIndex
      IvfIndex.init(e, "vec_id", "embedding", cent, root)
      val queries = e.filter(col("vec_id").isin(0, 7, 13))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val out = IvfIndex.probeTopKBatch(s, root, queries, k = 5, nprobe = 3)
        .localCheckpoint(true) // 15 rows, eager: the index can go
      IvfIndex.destroy(root)
      out
    },
      // batched-probe twin: the same centroid/assignment replay fanned out
      // per query — probe lists per qid (top-3 by centroid d2), candidates
      // from the probed lists, integer-grid-cosine top-5 per qid
      (s"""with cent as (
         |  select label list, i, avg(cast(embedding[i+1] as double)) m
         |  from embeddings, (select unnest(range(0,64)) i) t group by 1, 2),
         |ad as (select e.vec_id, c.list,
         |   sum(pow(cast(e.embedding[c.i+1] as double) - c.m, 2)) d2
         |  from embeddings e, cent c group by 1, 2),
         |assign as (select vec_id, list from (
         |  select vec_id, list, row_number() over (partition by vec_id
         |    order by d2, list) rn from ad) x where rn = 1),
         |qs as (select vec_id qid, embedding qv from embeddings
         |  where vec_id in (0, 7, 13)),
         |qd as (select q.qid, c.list,
         |   sum(pow(cast(q.qv[c.i+1] as double) - c.m, 2)) d2
         |  from cent c, qs q group by 1, 2),
         |probe as (select qid, list from (select qid, list,
         |  row_number() over (partition by qid order by d2, list) rn
         |  from qd) x where rn <= 3),
         |cand as (select p.qid, a.vec_id, a.list, e.embedding
         |  from assign a join probe p using (list)
         |  join embeddings e using (vec_id)),
         |scored as (select c.qid, c.vec_id, c.list,
         |  ${cosQSql("c.embedding", "q.qv")} cosine
         |  from cand c join qs q using (qid)),
         |ranked as (select *, row_number() over (partition by qid
         |  order by cosine desc, vec_id) rank from scored)
         |select qid, cast(rank as int) rank, vec_id, list, cosine
         |from ranked where rank <= 5""").stripMargin),

    Query("q_ivf_autocompact", (s, dir) => withFixtureRoot("graft_ivfac_q_") { tmp =>
      // r16: the AUTO-COMPACTING streaming sink — probe cost is linear
      // in live segments and a streaming cadence piles them up (1-min
      // triggers = 1,440/day), so ivfSinkVersioned compacts once the
      // live count reaches the threshold. Threshold 3 over init + 3
      // streamed quarters fires exactly once (after batch 1: 3 segs →
      // 1), so the pointer lands closed-form at v4/lastBatch 2 with 2
      // live segments — while contents and the probe must stay
      // IDENTICAL to the never-compacted q_ivf_incremental oracle
      // (compaction is a maintenance rewrite, not a semantic change).
      val e = t(s, dir, "embeddings")
      val m = pmod(col("vec_id"), lit(4))
      val init = e.filter(m === 3)
      val batches = Seq(0, 1, 2).map(i => e.filter(m === i))
      val cent = init
        .select(col("label").cast("int").as("list"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("list"), col("pos"))
        .agg(avg(col("x").cast("double")).as("mm"))
        .groupBy(col("list"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mm")))),
          st => st.getField("mm")).as("cvec"))
      val root = tmp + "/ivf"
      val fin = graft.streaming.Streams.ivfReplayVersioned(
        s, init, batches, root, "vec_id", "embedding", cent,
        autoCompactSegments = 3)
      import graft.pipeline.IvfIndex
      val p = IvfIndex.readPointer(root).get
      val nSegs = IvfIndex.readManifest(root, p.version).count(!_.tombstone)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val probe = IvfIndex.probeTopK(s, root, q, k = 5, nprobe = 3)
        .agg(count(lit(1)).as("probe_n"), max(col("cosine")).as("probe_max"),
          sum(col("vec_id")).as("probe_ids"))
      val out = fin.groupBy(col("list"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("id_sum"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .withColumn("live_segs", lit(nSegs))
        .crossJoin(probe)
        .localCheckpoint(true) // ≤ nlists rows, eager: the index can go
      IvfIndex.destroy(root)
      out
    },
      // auto-compact twin: contents/probe identical to the
      // never-compacted replay (compaction is a maintenance rewrite);
      // pointer closed-form — threshold 3 fires once after batch 1
      // (3 segs -> 1), so init + 3 batches + 1 compaction = v4 at
      // lastBatch 2 with 2 live segments
      (s"""with cent as (
         |  select label list, i, avg(cast(embedding[i+1] as double)) m
         |  from embeddings, (select unnest(range(0,64)) i) t
         |  where vec_id % 4 = 3 group by 1, 2),
         |ad as (select e.vec_id, c.list,
         |   sum(pow(cast(e.embedding[c.i+1] as double) - c.m, 2)) d2
         |  from embeddings e, cent c group by 1, 2),
         |assign as (select vec_id, list from (
         |  select vec_id, list, row_number() over (partition by vec_id
         |    order by d2, list) rn from ad) x where rn = 1),
         |q as (select embedding qv from embeddings where vec_id = 0),
         |qd as (select c.list, sum(pow(cast(q.qv[c.i+1] as double) - c.m, 2)) d2
         |  from cent c, q group by c.list),
         |probe as (select list from qd order by d2, list limit 3),
         |cand as (select a.vec_id, e.embedding
         |  from assign a join probe using (list)
         |  join embeddings e using (vec_id)),
         |scored as (select vec_id, ${cosQSql("embedding", "q.qv")} cosine
         |  from cand, q),
         |top5 as (select * from (select *, row_number()
         |  over (order by cosine desc, vec_id) rk from scored) z where rk <= 5),
         |pb as (select cast(count(*) as bigint) probe_n, max(cosine) probe_max,
         |   cast(sum(vec_id) as bigint) probe_ids from top5)
         |select a.list, cast(count(*) as bigint) n_vecs,
         |  cast(sum(a.vec_id) as bigint) id_sum,
         |  cast(4 as int) snap_version, cast(2 as bigint) last_batch,
         |  cast(2 as int) live_segs,
         |  probe_n, probe_max, probe_ids
         |from assign a cross join pb
         |group by 1, probe_n, probe_max, probe_ids""").stripMargin),

    Query("q_ivf_health", (s, dir) => withFixtureRoot("graft_ivfhl_q_") { tmp =>
      // r16: the ANN index-health ledger, oracle-exact. Pinned
      // centroids have one silent failure mode — the data distribution
      // walking away from them (recall decays while every probe still
      // "works") — so each ingest segment's commit records
      // Σ floor(assignment-d2 · 1e6 + 0.5) and its row count as
      // observed metrics riding the write job, and health() exposes
      // (last batch mean / init baseline mean). This fixture makes
      // every ledger number INTEGER-exact (embeddings rounded to the
      // integer grid, centroids = rounded per-label means → d2 sums
      // are order-free int64 arithmetic), so the oracle replays the
      // manifest's exact health counters and the drift ratio.
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"),
            x => round(x.cast("double") * 10).cast("double")).as("emb"))
      val m = pmod(col("vec_id"), lit(4))
      val init = e.filter(m === 3)
      val batches = Seq(0, 1, 2).map(i => e.filter(m === i))
      val cent = init
        .select(col("label").cast("int").as("list"),
          posexplode(col("emb")).as(Seq("pos", "x")))
        .groupBy(col("list"), col("pos"))
        .agg(round(avg(col("x"))).cast("double").as("mm"))
        .groupBy(col("list"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mm")))),
          st => st.getField("mm")).as("cvec"))
      val root = tmp + "/ivf"
      graft.streaming.Streams.ivfReplayVersioned(
        s, init, batches, root, "vec_id", "emb", cent)
      import graft.pipeline.IvfIndex
      val p = IvfIndex.readPointer(root).get
      val segs = IvfIndex.readManifest(root, p.version)
      val h = IvfIndex.health(root)
      require(h.drift.nonEmpty, "health ledger recorded no drift ratio")
      import s.implicits._
      val out = segs.map(sg => (sg.version, sg.sumD2u, sg.n))
        .toDF("seg_version", "sum_d2u", "n_vecs")
        .withColumn("drift", lit(h.drift.get))
      IvfIndex.destroy(root)
      out
    },
      // health-ledger twin: every counter is exact int64 (integer-grid
      // embeddings, rounded-mean centroids), so the oracle recomputes the
      // per-segment Σ floor(min-d2 · 1e6 + 0.5) / counts from scratch and
      // the drift ratio with the same division order health() uses
      ("""with e as (select vec_id,
         |   list_transform(embedding,
         |     x -> cast(round(cast(x as double) * 10) as double)) emb
         | from embeddings),
         |cent as (select label list, i,
         |   cast(round(avg(e.emb[i+1])) as double) m
         | from e join embeddings using (vec_id),
         |      (select unnest(range(0,64)) i) t
         | where vec_id % 4 = 3 group by 1, 2),
         |ad as (select v.vec_id, c.list,
         |   sum((v.emb[c.i+1] - c.m) * (v.emb[c.i+1] - c.m)) d2
         | from e v, cent c group by 1, 2),
         |mind as (select vec_id, min(d2) d2 from ad group by 1),
         |seg as (select case vec_id % 4 when 3 then 0 when 0 then 1
         |    when 1 then 2 else 3 end sv,
         |  cast(sum(floor(d2*1e6 + 0.5)) as bigint) sum_d2u,
         |  cast(count(*) as bigint) n_vecs
         | from mind group by 1),
         |base as (select sum_d2u sb, n_vecs nb from seg where sv = 0),
         |lastb as (select sum_d2u sl, n_vecs nl from seg where sv = 3)
         |select sv seg_version, sum_d2u, n_vecs,
         |  ((sl / nl / 1e6) / (sb / nb / 1e6)) drift
         |from seg cross join base cross join lastb""").stripMargin),

    Query("q_ivf_pq_incremental", (s, dir) => withFixtureRoot("graft_ivfpq_q_") { tmp =>
      // r16: PQ-COMPRESSED postings in the incremental IVF index — the
      // FAISS IVFADC layout (Jégou et al. PAMI 2011). The codebook PINS
      // at init (the 16 lowest-id init vectors' micro-unit subvectors,
      // m=8 subspaces over dim 64 — pqEncodeAdc's deterministic sampled
      // rule), every streamed segment stores pq_code alongside the raw
      // vector, and the ADC probe scans ONLY the code column before an
      // exact integer-grid-cosine re-rank of the top-20 survivors. The
      // oracle recomputes codes, per-list posting/code stats and the
      // ADC-then-rerank probe from scratch — streamed == from-scratch
      // through the segment rolls, down to every stored code.
      val e = t(s, dir, "embeddings")
      val m = pmod(col("vec_id"), lit(4))
      val init = e.filter(m === 3)
      val batches = Seq(0, 1, 2).map(i => e.filter(m === i))
      val cent = init
        .select(col("label").cast("int").as("list"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("list"), col("pos"))
        .agg(avg(col("x").cast("double")).as("mm"))
        .groupBy(col("list"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mm")))),
          st => st.getField("mm")).as("cvec"))
      val root = tmp + "/ivf"
      val fin = graft.streaming.Streams.ivfReplayVersioned(
        s, init, batches, root, "vec_id", "embedding", cent,
        pqM = 8, pqK = 16)
      val p = graft.pipeline.IvfIndex.readPointer(root).get
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val probe = graft.pipeline.IvfIndex
        .probeTopK(s, root, q, k = 5, nprobe = 3, graft.pipeline.IvfIndex.Adc(20))
        .agg(count(lit(1)).as("probe_n"), sum(col("vec_id")).as("probe_ids"),
          max(col("cosine")).as("probe_max"), sum(col("adc_u")).as("probe_adc"))
      val out = fin.groupBy(col("list"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("id_sum"),
          sum(aggregate(col("pq_code"), lit(0L),
            (acc, v) => acc + v)).as("code_sum"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .crossJoin(probe)
        .localCheckpoint(true) // ≤ nlists rows, eager: the index can go
      graft.pipeline.IvfIndex.destroy(root)
      out
    },
      // PQ-postings twin: codebook = the 16 lowest-id init (≡3) vectors'
      // micro-unit subvectors; codes = per-(vector, subspace) arg-min
      // int64 d2, ties to the lowest codeword; ADC table for the query =
      // the query's own subspace d2 rows; probe = ADC top-20 over the 3
      // probed lists' candidates, then exact integer-grid-cosine top-5
      (s"""with cent as (
         |  select label list, i, avg(cast(embedding[i+1] as double)) m
         |  from embeddings, (select unnest(range(0,64)) i) t
         |  where vec_id % 4 = 3 group by 1, 2),
         |ad as (select e.vec_id, c.list,
         |   sum(pow(cast(e.embedding[c.i+1] as double) - c.m, 2)) d2
         |  from embeddings e, cent c group by 1, 2),
         |assign as (select vec_id, list from (
         |  select vec_id, list, row_number() over (partition by vec_id
         |    order by d2, list) rn from ad) x where rn = 1),
         |cb as (select vec_id cbid, row_number() over (order by vec_id) - 1 j
         |  from (select vec_id from embeddings where vec_id % 4 = 3
         |        order by vec_id limit 16)),
         |cwe as (select cb.j, t.i,
         |   floor(cast(e.embedding[t.i+1] as double)*1e6 + 0.5) w
         |  from cb join embeddings e on e.vec_id = cb.cbid,
         |       (select unnest(range(0,64)) i) t),
         |vqe as (select vec_id, t.i,
         |   floor(cast(embedding[t.i+1] as double)*1e6 + 0.5) vqv
         |  from embeddings, (select unnest(range(0,64)) i) t),
         |subd as (select v.vec_id, c.j, (v.i // 8) s,
         |   sum((v.vqv - c.w) * (v.vqv - c.w)) d2
         |  from vqe v join cwe c on c.i = v.i group by 1, 2, 3),
         |codes as (select vec_id, s, j code from (
         |  select vec_id, s, j, row_number() over (partition by vec_id, s
         |    order by d2, j) rn from subd) x where rn = 1),
         |codesum as (select vec_id, cast(sum(code) as bigint) csum
         |  from codes group by 1),
         |q as (select embedding qv from embeddings where vec_id = 0),
         |qd as (select c.list, sum(pow(cast(q.qv[c.i+1] as double) - c.m, 2)) d2
         |  from cent c, q group by c.list),
         |probe as (select list from qd order by d2, list limit 3),
         |qtab as (select s, j, d2 from subd where vec_id = 0),
         |cand as (select a.vec_id from assign a join probe using (list)),
         |adc as (select c.vec_id, cast(sum(qt.d2) as bigint) adc_u
         |  from codes c join qtab qt on qt.s = c.s and qt.j = c.code
         |  where c.vec_id in (select vec_id from cand)
         |  group by 1),
         |topr as (select vec_id, adc_u from adc
         |  order by adc_u, vec_id limit 20),
         |rr as (select t2.vec_id, t2.adc_u,
         |   ${cosQSql("e.embedding", "q.qv")} cosine
         |  from topr t2 join embeddings e using (vec_id), q),
         |top5 as (select * from (select *, row_number()
         |  over (order by cosine desc, vec_id) rk from rr) z where rk <= 5),
         |pb as (select cast(count(*) as bigint) probe_n,
         |   cast(sum(vec_id) as bigint) probe_ids, max(cosine) probe_max,
         |   cast(sum(adc_u) as bigint) probe_adc from top5)
         |select a.list, cast(count(*) as bigint) n_vecs,
         |  cast(sum(a.vec_id) as bigint) id_sum,
         |  cast(sum(cs.csum) as bigint) code_sum,
         |  cast(3 as int) snap_version, cast(2 as bigint) last_batch,
         |  probe_n, probe_ids, probe_max, probe_adc
         |from assign a join codesum cs using (vec_id) cross join pb
         |group by 1, probe_n, probe_ids, probe_max, probe_adc""").stripMargin),

    Query("q_ivf_pq_trained", (s, dir) => withFixtureRoot("graft_ivfpqt_q_") { tmp =>
      // r16: TRAINED PQ codebooks — FAISS's trained-IVFADC mode. Same
      // streamed layout as q_ivf_pq_incremental, but the codebook
      // Lloyd-refines for 2 per-subspace integer-grid rounds on the
      // init quarter before pinning (encode with the codegen kernel,
      // update = exact int64 ties-away-from-zero rounding of the
      // assigned subvectors' means, empty codewords RETAIN their
      // previous value). The oracle unrolls both training rounds, then
      // replays codes, per-list stats and the ADC-then-rerank probe
      // against the trained codebook — bit-for-bit.
      val e = t(s, dir, "embeddings")
      val m = pmod(col("vec_id"), lit(4))
      val init = e.filter(m === 3)
      val batches = Seq(0, 1, 2).map(i => e.filter(m === i))
      val cent = init
        .select(col("label").cast("int").as("list"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("list"), col("pos"))
        .agg(avg(col("x").cast("double")).as("mm"))
        .groupBy(col("list"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mm")))),
          st => st.getField("mm")).as("cvec"))
      val root = tmp + "/ivf"
      val fin = graft.streaming.Streams.ivfReplayVersioned(
        s, init, batches, root, "vec_id", "embedding", cent,
        pqM = 8, pqK = 16, pqTrainIters = 2)
      val p = graft.pipeline.IvfIndex.readPointer(root).get
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val probe = graft.pipeline.IvfIndex
        .probeTopK(s, root, q, k = 5, nprobe = 3, graft.pipeline.IvfIndex.Adc(20))
        .agg(count(lit(1)).as("probe_n"), sum(col("vec_id")).as("probe_ids"),
          max(col("cosine")).as("probe_max"), sum(col("adc_u")).as("probe_adc"))
      val out = fin.groupBy(col("list"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("id_sum"),
          sum(aggregate(col("pq_code"), lit(0L),
            (acc, v) => acc + v)).as("code_sum"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .crossJoin(probe)
        .localCheckpoint(true) // ≤ nlists rows, eager: the index can go
      graft.pipeline.IvfIndex.destroy(root)
      out
    },
      // trained-codebook twin: the sampled seeds Lloyd-refine for two
      // unrolled rounds (assign by int64 subspace d2 ties-low-j; update =
      // exact ties-away-from-zero integer rounding of assigned means,
      // retained on empty), then codes/stats/ADC probe replay against the
      // trained codebook
      (s"""with vqe as (select vec_id, t.i, (t.i // 8) s, (t.i % 8) p,
         |   floor(cast(embedding[t.i+1] as double)*1e6 + 0.5) q
         |  from embeddings, (select unnest(range(0,64)) i) t),
         |cbseed as (select vec_id cbid, row_number() over (order by vec_id) - 1 j
         |  from (select vec_id from embeddings where vec_id % 4 = 3
         |        order by vec_id limit 16)),
         |cb0 as (select v.s, c.j, v.p, v.q w
         |  from cbseed c join vqe v on v.vec_id = c.cbid),
         |d1 as (select v.vec_id, c.s, c.j, sum((v.q - c.w)*(v.q - c.w)) d2
         |  from vqe v join cb0 c on c.s = v.s and c.p = v.p
         |  where v.vec_id % 4 = 3 group by 1, 2, 3),
         |a1 as (select vec_id, s, j from (select vec_id, s, j,
         |  row_number() over (partition by vec_id, s order by d2, j) rn
         |  from d1) x where rn = 1),
         |u1 as (select v.s, a.j, v.p, cast(sum(v.q) as bigint) sq, count(*) n
         |  from vqe v join a1 a on a.vec_id = v.vec_id and a.s = v.s
         |  group by 1, 2, 3),
         |cb1 as (select c.s, c.j, c.p,
         |  coalesce(case when u.sq >= 0 then (2*u.sq + u.n) // (2*u.n)
         |                else -((-2*u.sq + u.n) // (2*u.n)) end * 1.0, c.w) w
         |  from cb0 c left join u1 u on u.s = c.s and u.j = c.j and u.p = c.p),
         |d2r as (select v.vec_id, c.s, c.j, sum((v.q - c.w)*(v.q - c.w)) d2
         |  from vqe v join cb1 c on c.s = v.s and c.p = v.p
         |  where v.vec_id % 4 = 3 group by 1, 2, 3),
         |a2 as (select vec_id, s, j from (select vec_id, s, j,
         |  row_number() over (partition by vec_id, s order by d2, j) rn
         |  from d2r) x where rn = 1),
         |u2 as (select v.s, a.j, v.p, cast(sum(v.q) as bigint) sq, count(*) n
         |  from vqe v join a2 a on a.vec_id = v.vec_id and a.s = v.s
         |  group by 1, 2, 3),
         |cb2 as (select c.s, c.j, c.p,
         |  coalesce(case when u.sq >= 0 then (2*u.sq + u.n) // (2*u.n)
         |                else -((-2*u.sq + u.n) // (2*u.n)) end * 1.0, c.w) w
         |  from cb1 c left join u2 u on u.s = c.s and u.j = c.j and u.p = c.p),
         |df as (select v.vec_id, c.s, c.j, sum((v.q - c.w)*(v.q - c.w)) d2
         |  from vqe v join cb2 c on c.s = v.s and c.p = v.p group by 1, 2, 3),
         |codes as (select vec_id, s, j code from (select vec_id, s, j,
         |  row_number() over (partition by vec_id, s order by d2, j) rn
         |  from df) x where rn = 1),
         |codesum as (select vec_id, cast(sum(code) as bigint) csum
         |  from codes group by 1),
         |cent as (select label list, i, avg(cast(embedding[i+1] as double)) m
         |  from embeddings, (select unnest(range(0,64)) i) t
         |  where vec_id % 4 = 3 group by 1, 2),
         |ad as (select e.vec_id, c.list,
         |   sum(pow(cast(e.embedding[c.i+1] as double) - c.m, 2)) d2
         |  from embeddings e, cent c group by 1, 2),
         |assign as (select vec_id, list from (
         |  select vec_id, list, row_number() over (partition by vec_id
         |    order by d2, list) rn from ad) x where rn = 1),
         |q as (select embedding qv from embeddings where vec_id = 0),
         |qd as (select c.list, sum(pow(cast(q.qv[c.i+1] as double) - c.m, 2)) d2
         |  from cent c, q group by c.list),
         |probe as (select list from qd order by d2, list limit 3),
         |qtab as (select s, j, d2 from df where vec_id = 0),
         |cand as (select a.vec_id from assign a join probe using (list)),
         |adc as (select c.vec_id, cast(sum(qt.d2) as bigint) adc_u
         |  from codes c join qtab qt on qt.s = c.s and qt.j = c.code
         |  where c.vec_id in (select vec_id from cand)
         |  group by 1),
         |topr as (select vec_id, adc_u from adc
         |  order by adc_u, vec_id limit 20),
         |rr as (select t2.vec_id, t2.adc_u,
         |   ${cosQSql("e.embedding", "q.qv")} cosine
         |  from topr t2 join embeddings e using (vec_id), q),
         |top5 as (select * from (select *, row_number()
         |  over (order by cosine desc, vec_id) rk from rr) z where rk <= 5),
         |pb as (select cast(count(*) as bigint) probe_n,
         |   cast(sum(vec_id) as bigint) probe_ids, max(cosine) probe_max,
         |   cast(sum(adc_u) as bigint) probe_adc from top5)
         |select a.list, cast(count(*) as bigint) n_vecs,
         |  cast(sum(a.vec_id) as bigint) id_sum,
         |  cast(sum(cs.csum) as bigint) code_sum,
         |  cast(3 as int) snap_version, cast(2 as bigint) last_batch,
         |  probe_n, probe_ids, probe_max, probe_adc
         |from assign a join codesum cs using (vec_id) cross join pb
         |group by 1, probe_n, probe_ids, probe_max, probe_adc""").stripMargin),

    Query("q_ivf_pq_batch_probe", (s, dir) => withFixtureRoot("graft_ivfpqb_q_") { tmp =>
      // r16: the PQ SERVING shape — batched ADC probes. Per-query ADC
      // lookup tables compute COLUMNAR against the pinned-codebook
      // literal (O(nq·m·k·sub) once, never per candidate), the
      // code-only scan joins broadcast queries on probe-list
      // membership, per-qid ADC top-20 survivors re-rank exactly in
      // ONE raw pass over the probed dirs. Oracle replays codes,
      // per-qid tables, ADC ranking and the cosine re-rank per query.
      val e = t(s, dir, "embeddings")
      val cent = e
        .select(col("label").cast("int").as("list"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("list"), col("pos"))
        .agg(avg(col("x").cast("double")).as("mm"))
        .groupBy(col("list"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mm")))),
          st => st.getField("mm")).as("cvec"))
      val root = tmp + "/ivf"
      import graft.pipeline.IvfIndex
      IvfIndex.init(e, "vec_id", "embedding", cent, root, pqM = 8, pqK = 16)
      val queries = e.filter(col("vec_id").isin(0, 7, 13))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val out = IvfIndex.probeTopKBatch(s, root, queries,
          k = 5, nprobe = 3, IvfIndex.Adc(20))
        .localCheckpoint(true) // 15 rows, eager: the index can go
      IvfIndex.destroy(root)
      out
    },
      // batched PQ twin: whole-table codebook (16 lowest ids), per-qid
      // ADC tables = the query vectors' own subspace-d2 rows, ADC top-20
      // per qid over the probed lists' candidates, cosine re-rank top-5
      (s"""with cent as (
         |  select label list, i, avg(cast(embedding[i+1] as double)) m
         |  from embeddings, (select unnest(range(0,64)) i) t group by 1, 2),
         |ad as (select e.vec_id, c.list,
         |   sum(pow(cast(e.embedding[c.i+1] as double) - c.m, 2)) d2
         |  from embeddings e, cent c group by 1, 2),
         |assign as (select vec_id, list from (
         |  select vec_id, list, row_number() over (partition by vec_id
         |    order by d2, list) rn from ad) x where rn = 1),
         |cb as (select vec_id cbid, row_number() over (order by vec_id) - 1 j
         |  from (select vec_id from embeddings order by vec_id limit 16)),
         |cwe as (select cb.j, t.i,
         |   floor(cast(e.embedding[t.i+1] as double)*1e6 + 0.5) w
         |  from cb join embeddings e on e.vec_id = cb.cbid,
         |       (select unnest(range(0,64)) i) t),
         |vqe as (select vec_id, t.i,
         |   floor(cast(embedding[t.i+1] as double)*1e6 + 0.5) vqv
         |  from embeddings, (select unnest(range(0,64)) i) t),
         |subd as (select v.vec_id, c.j, (v.i // 8) s,
         |   sum((v.vqv - c.w) * (v.vqv - c.w)) d2
         |  from vqe v join cwe c on c.i = v.i group by 1, 2, 3),
         |codes as (select vec_id, s, j code from (
         |  select vec_id, s, j, row_number() over (partition by vec_id, s
         |    order by d2, j) rn from subd) x where rn = 1),
         |qs as (select vec_id qid, embedding qv from embeddings
         |  where vec_id in (0, 7, 13)),
         |qd as (select q.qid, c.list,
         |   sum(pow(cast(q.qv[c.i+1] as double) - c.m, 2)) d2
         |  from cent c, qs q group by 1, 2),
         |probe as (select qid, list from (select qid, list,
         |  row_number() over (partition by qid order by d2, list) rn
         |  from qd) x where rn <= 3),
         |cand as (select p.qid, a.vec_id, a.list
         |  from assign a join probe p using (list)),
         |adc as (select cd.qid, cd.vec_id, cd.list,
         |   cast(sum(qt.d2) as bigint) adc_u
         |  from cand cd
         |  join codes c on c.vec_id = cd.vec_id
         |  join subd qt on qt.vec_id = cd.qid and qt.s = c.s and qt.j = c.code
         |  group by 1, 2, 3),
         |topr as (select * from (select *, row_number() over
         |  (partition by qid order by adc_u, vec_id) rn from adc) x
         |  where rn <= 20),
         |rr as (select t2.qid, t2.vec_id, t2.list, t2.adc_u,
         |   ${cosQSql("e.embedding", "q.qv")} cosine
         |  from topr t2 join embeddings e using (vec_id)
         |  join qs q using (qid))
         |select qid, cast(rank as int) rank, vec_id, list, adc_u, cosine
         |from (select *, row_number() over (partition by qid
         |  order by cosine desc, vec_id) rank from rr) z
         |where rank <= 5""").stripMargin),

    Query("q_ivf_rebuild", (s, dir) => withFixtureRoot("graft_ivfrb_q_") { tmp =>
      // r17: the drift-detect → REMEDY loop closed. Integer-grid
      // fixture (q_ivf_health's trick — every ledger number exact
      // int64): init pins the ≡3 quarter's rounded label-mean
      // centroids; the ≡0 quarter ingests on-distribution, the ≡1
      // quarter ingests SHIFTED +15 along its own label's dimension
      // (the data walks away per cluster — the ledger crosses the 2×
      // warning, required below, without collapsing the noise-driven
      // list balance a uniform shift would); rebuild()
      // re-pins centroids to the LIVE corpus's rounded label means
      // through ONE maintenance version (lastBatch unchanged, centroid
      // generation 1) — proven equal to an init-from-scratch twin on
      // the same contents — and the ≡2 quarter then ingests against
      // the new generation. The oracle recomputes the rebuilt
      // centroids, every assignment, both health means, the drift
      // ratio and the probe from scratch.
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"),
            x => round(x.cast("double") * 10).cast("double")).as("emb"))
      val m = pmod(col("vec_id"), lit(4))
      def cents(src: DataFrame) = src
        .select(col("label").cast("int").as("list"),
          posexplode(col("emb")).as(Seq("pos", "x")))
        .groupBy(col("list"), col("pos"))
        .agg(round(avg(col("x"))).cast("double").as("mm"))
        .groupBy(col("list"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mm")))),
          st => st.getField("mm")).as("cvec"))
      val init = e.filter(m === 3)
      val shifted = e.filter(m === 1)
        .withColumn("emb", transform(col("emb"), (x, i) =>
          x + when(i === col("label").cast("int"), lit(15.0))
            .otherwise(lit(0.0))))
      val root = tmp + "/ivf"
      import graft.pipeline.IvfIndex
      IvfIndex.init(init, "vec_id", "emb", cents(init), root)
      IvfIndex.applyBatch(e.filter(m === 0), "vec_id", "emb", root, 0L)
      IvfIndex.applyBatch(shifted, "vec_id", "emb", root, 1L)
      val driftBefore = IvfIndex.health(root).drift.get
      require(driftBefore > 2.0,
        s"fixture must cross the drift warning, got $driftBefore")
      // r18: the live union feeds THREE separate actions (the rebuilt
      // centroid aggregate, then the twin init's assignment + segment
      // write) — cross-action reuse, so checkpoint it once instead of
      // re-running the scan+transform+union per action (the house
      // pattern; AQE stage reuse only covers intra-action subtrees)
      val live = init.unionByName(e.filter(m === 0)).unionByName(shifted)
        .localCheckpoint(true)
      val centFull = cents(live).localCheckpoint(true)
      IvfIndex.rebuild(s, root, centFull)
      // rebuild == init-from-scratch twin on the same live contents
      val twin = tmp + "/twin"
      IvfIndex.init(live, "vec_id", "emb", centFull, twin)
      // each side is consumed by BOTH exceptAll actions: checkpoint so
      // the second require pass replays blocks, not segment scans (r18)
      val got = IvfIndex.currentAll(s, root).select("vec_id", "list")
        .localCheckpoint(true)
      val want = IvfIndex.currentAll(s, twin).select("vec_id", "list")
        .localCheckpoint(true)
      require(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "rebuild diverged from the init-from-scratch twin")
      IvfIndex.destroy(twin)
      IvfIndex.applyBatch(e.filter(m === 2), "vec_id", "emb", root, 2L)
      val p = IvfIndex.readPointer(root).get
      val h = IvfIndex.health(root)
      val q = e.filter(col("vec_id") === 0).select(col("emb").as("qvec"))
      val probe = IvfIndex.probeTopK(s, root, q, k = 5, nprobe = 3)
        .agg(count(lit(1)).as("probe_n"), max(col("cosine")).as("probe_max"),
          sum(col("vec_id")).as("probe_ids"))
      val out = IvfIndex.currentAll(s, root).groupBy(col("list"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("id_sum"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .withColumn("cent_gen", lit(p.gen))
        .withColumn("baseline_mean", lit(h.baselineMeanD2.get))
        .withColumn("last_mean", lit(h.lastBatchMeanD2.get))
        .withColumn("drift", lit(h.drift.get))
        .crossJoin(probe)
        .localCheckpoint(true) // ≤ nlists rows, eager: the index can go
      IvfIndex.destroy(root)
      out
    },
      // rebuild twin: the re-pinned centroids are the LIVE corpus's
      // (≡3 + ≡0 + shifted ≡1) rounded label means; every assignment —
      // including the post-rebuild ≡2 ingest — replays against them;
      // baseline = the rebuild's own Σ floor(d2·1e6+0.5)/n over the live
      // three quarters, last = the ≡2 batch, drift with health()'s exact
      // division order; probe replays over all four quarters; pointer
      // closed-form (init + 2 batches + rebuild + 1 batch → v4,
      // lastBatch 2, generation 1)
      (s"""with e as (select vec_id, label,
         |   list_transform(range(0, 64), i ->
         |     cast(round(cast(embedding[i+1] as double)*10) as double) +
         |     (case when vec_id % 4 = 1 and i = label
         |      then 15.0 else 0.0 end)) emb
         | from embeddings),
         |cent as (select label list, i, cast(round(avg(e.emb[i+1])) as double) m
         |  from e, (select unnest(range(0,64)) i) t
         |  where vec_id % 4 <> 2 group by 1, 2),
         |ad as (select v.vec_id, c.list,
         |   sum((v.emb[c.i+1] - c.m) * (v.emb[c.i+1] - c.m)) d2
         |  from e v, cent c group by 1, 2),
         |assign as (select vec_id, list, d2 from (
         |  select vec_id, list, d2, row_number() over (partition by vec_id
         |    order by d2, list) rn from ad) x where rn = 1),
         |base as (select cast(sum(cast(floor(d2*1e6 + 0.5) as bigint))
         |     as bigint) sb,
         |   cast(count(*) as bigint) nb from assign where vec_id % 4 <> 2),
         |lastb as (select cast(sum(cast(floor(d2*1e6 + 0.5) as bigint))
         |     as bigint) sl,
         |   cast(count(*) as bigint) nl from assign where vec_id % 4 = 2),
         |q as (select emb qv from e where vec_id = 0),
         |qd as (select c.list,
         |   sum((q.qv[c.i+1] - c.m) * (q.qv[c.i+1] - c.m)) d2
         |  from cent c, q group by c.list),
         |probe as (select list from qd order by d2, list limit 3),
         |cand as (select a.vec_id, v.emb
         |  from assign a join probe using (list)
         |  join e v using (vec_id)),
         |scored as (select vec_id, ${cosQSql("emb", "q.qv")} cosine
         |  from cand, q),
         |top5 as (select * from (select *, row_number()
         |  over (order by cosine desc, vec_id) rk from scored) z where rk <= 5),
         |pb as (select cast(count(*) as bigint) probe_n, max(cosine) probe_max,
         |   cast(sum(vec_id) as bigint) probe_ids from top5)
         |select a.list, cast(count(*) as bigint) n_vecs,
         |  cast(sum(a.vec_id) as bigint) id_sum,
         |  cast(4 as int) snap_version, cast(2 as bigint) last_batch,
         |  cast(1 as int) cent_gen,
         |  (sb / nb / 1e6) baseline_mean, (sl / nl / 1e6) last_mean,
         |  ((sl / nl / 1e6) / (sb / nb / 1e6)) drift,
         |  probe_n, probe_max, probe_ids
         |from assign a cross join base cross join lastb cross join pb
         |group by 1, sb, nb, sl, nl, probe_n, probe_max, probe_ids""")
        .stripMargin),

    Query("q_ivf_pq_codeonly", (s, dir) => withFixtureRoot("graft_ivfpqc_q_") { tmp =>
      // r17: the CODE-ONLY storage tier — the FAISS layout when exact
      // re-rank isn't worth 32× the bytes: init(storeRaw = false)
      // drops the raw embedding column entirely (segments hold only
      // (vec_id, list, pq_code)) and serving is ADC-ONLY
      // (rerank = 0 — ranked by the exact int64 code-table L2 order;
      // no refine pass exists). Same streamed layout as
      // q_ivf_pq_incremental; the oracle replays codes, per-list
      // code stats and the ADC-only top-5 from scratch. The absence
      // of the raw column is asserted in-query.
      val e = t(s, dir, "embeddings")
      val m = pmod(col("vec_id"), lit(4))
      val init = e.filter(m === 3)
      val batches = Seq(0, 1, 2).map(i => e.filter(m === i))
      val cent = init
        .select(col("label").cast("int").as("list"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("list"), col("pos"))
        .agg(avg(col("x").cast("double")).as("mm"))
        .groupBy(col("list"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mm")))),
          st => st.getField("mm")).as("cvec"))
      val root = tmp + "/ivf"
      val fin = graft.streaming.Streams.ivfReplayVersioned(
        s, init, batches, root, "vec_id", "embedding", cent,
        pqM = 8, pqK = 16, storeRaw = false)
      require(!fin.columns.contains("embedding"),
        s"code-only index stored raw vectors: ${fin.columns.mkString(",")}")
      val p = graft.pipeline.IvfIndex.readPointer(root).get
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val probe = graft.pipeline.IvfIndex
        .probeTopK(s, root, q, k = 5, nprobe = 3, graft.pipeline.IvfIndex.Adc(0))
        .agg(count(lit(1)).as("probe_n"), sum(col("vec_id")).as("probe_ids"),
          min(col("adc_u")).as("probe_adc_min"),
          sum(col("adc_u")).as("probe_adc"))
      val out = fin.groupBy(col("list"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("id_sum"),
          sum(aggregate(col("pq_code"), lit(0L),
            (acc, v) => acc + v)).as("code_sum"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .crossJoin(probe)
        .localCheckpoint(true) // ≤ nlists rows, eager: the index can go
      graft.pipeline.IvfIndex.destroy(root)
      out
    },
      // code-only twin: same codebook/code replay as q_ivf_pq_incremental
      // (the stored layout differs — no raw column — but codes are
      // storage-independent), ADC-ONLY probe: top-5 by (adc_u, vec_id)
      // over the probed lists' candidates, no refine pass
      ("""with cent as (
         |  select label list, i, avg(cast(embedding[i+1] as double)) m
         |  from embeddings, (select unnest(range(0,64)) i) t
         |  where vec_id % 4 = 3 group by 1, 2),
         |ad as (select e.vec_id, c.list,
         |   sum(pow(cast(e.embedding[c.i+1] as double) - c.m, 2)) d2
         |  from embeddings e, cent c group by 1, 2),
         |assign as (select vec_id, list from (
         |  select vec_id, list, row_number() over (partition by vec_id
         |    order by d2, list) rn from ad) x where rn = 1),
         |cb as (select vec_id cbid, row_number() over (order by vec_id) - 1 j
         |  from (select vec_id from embeddings where vec_id % 4 = 3
         |        order by vec_id limit 16)),
         |cwe as (select cb.j, t.i,
         |   floor(cast(e.embedding[t.i+1] as double)*1e6 + 0.5) w
         |  from cb join embeddings e on e.vec_id = cb.cbid,
         |       (select unnest(range(0,64)) i) t),
         |vqe as (select vec_id, t.i,
         |   floor(cast(embedding[t.i+1] as double)*1e6 + 0.5) vqv
         |  from embeddings, (select unnest(range(0,64)) i) t),
         |subd as (select v.vec_id, c.j, (v.i // 8) s,
         |   sum((v.vqv - c.w) * (v.vqv - c.w)) d2
         |  from vqe v join cwe c on c.i = v.i group by 1, 2, 3),
         |codes as (select vec_id, s, j code from (
         |  select vec_id, s, j, row_number() over (partition by vec_id, s
         |    order by d2, j) rn from subd) x where rn = 1),
         |codesum as (select vec_id, cast(sum(code) as bigint) csum
         |  from codes group by 1),
         |q as (select embedding qv from embeddings where vec_id = 0),
         |qd as (select c.list, sum(pow(cast(q.qv[c.i+1] as double) - c.m, 2)) d2
         |  from cent c, q group by c.list),
         |probe as (select list from qd order by d2, list limit 3),
         |qtab as (select s, j, d2 from subd where vec_id = 0),
         |cand as (select a.vec_id from assign a join probe using (list)),
         |adc as (select c.vec_id, cast(sum(qt.d2) as bigint) adc_u
         |  from codes c join qtab qt on qt.s = c.s and qt.j = c.code
         |  where c.vec_id in (select vec_id from cand)
         |  group by 1),
         |top5 as (select vec_id, adc_u from adc
         |  order by adc_u, vec_id limit 5),
         |pb as (select cast(count(*) as bigint) probe_n,
         |   cast(sum(vec_id) as bigint) probe_ids,
         |   cast(min(adc_u) as bigint) probe_adc_min,
         |   cast(sum(adc_u) as bigint) probe_adc from top5)
         |select a.list, cast(count(*) as bigint) n_vecs,
         |  cast(sum(a.vec_id) as bigint) id_sum,
         |  cast(sum(cs.csum) as bigint) code_sum,
         |  cast(3 as int) snap_version, cast(2 as bigint) last_batch,
         |  probe_n, probe_ids, probe_adc_min, probe_adc
         |from assign a join codesum cs using (vec_id) cross join pb
         |group by 1, probe_n, probe_ids, probe_adc_min, probe_adc""")
        .stripMargin),

    Query("q_ivf_sq8", (s, dir) => withFixtureRoot("graft_ivfsq_q_") { tmp =>
      // r17: the SQ8 MIDDLE storage tier (FAISS ScalarQuantizer
      // QT_8bit) — between raw (32× bytes, exact re-rank) and
      // code-only (no re-rank): per-dimension 8-bit codes replace the
      // raw column against bounds PINNED at init from the ≡3 quarter's
      // per-dim min/max, later quarters CLAMP where they fall outside
      // (the pinned-quantizer contract), and the ADC probe's refine
      // pass re-ranks the DECODED int64-grid reconstruction
      // (error ≤ span/510/dim — approximate by design, deterministic
      // end to end). The oracle replays bounds, every sq code incl.
      // the clamps, the PQ codes/ADC table, and the decoded-cosine
      // re-rank from scratch. The absence of the raw column is
      // asserted in-query.
      val e = t(s, dir, "embeddings")
      val m = pmod(col("vec_id"), lit(4))
      val init = e.filter(m === 3)
      val batches = Seq(0, 1, 2).map(i => e.filter(m === i))
      val cent = init
        .select(col("label").cast("int").as("list"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("list"), col("pos"))
        .agg(avg(col("x").cast("double")).as("mm"))
        .groupBy(col("list"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mm")))),
          st => st.getField("mm")).as("cvec"))
      val root = tmp + "/ivf"
      val fin = graft.streaming.Streams.ivfReplayVersioned(
        s, init, batches, root, "vec_id", "embedding", cent,
        pqM = 8, pqK = 16, sq8 = true)
      require(!fin.columns.contains("embedding") &&
          fin.columns.contains("sq_code"),
        s"SQ8 index stored the wrong layout: ${fin.columns.mkString(",")}")
      val p = graft.pipeline.IvfIndex.readPointer(root).get
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val probe = graft.pipeline.IvfIndex
        .probeTopK(s, root, q, k = 5, nprobe = 3, graft.pipeline.IvfIndex.Adc(20))
        .agg(count(lit(1)).as("probe_n"), sum(col("vec_id")).as("probe_ids"),
          max(col("cosine")).as("probe_max"), sum(col("adc_u")).as("probe_adc"))
      val out = fin.groupBy(col("list"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("id_sum"),
          sum(aggregate(col("sq_code"), lit(0L),
            (acc, v) => acc + v)).as("sq_sum"),
          sum(aggregate(col("pq_code"), lit(0L),
            (acc, v) => acc + v)).as("code_sum"))
        .withColumn("snap_version", lit(p.version))
        .withColumn("last_batch", lit(p.lastBatch))
        .crossJoin(probe)
        .localCheckpoint(true) // ≤ nlists rows, eager: the index can go
      graft.pipeline.IvfIndex.destroy(root)
      out
    },
      // SQ8 twin: bounds = the ≡3 quarter's per-dim micro-unit min/max;
      // sq codes via the exact roundDiv-with-clamp (ties away from zero,
      // negative branch for below-bounds later quarters); decode = the
      // int64-grid reconstruction; ADC top-20 over the probed lists, then
      // the decoded-cosine top-5 — every integer replayed from scratch
      (s"""with cent as (
         |  select label list, i, avg(cast(embedding[i+1] as double)) m
         |  from embeddings, (select unnest(range(0,64)) i) t
         |  where vec_id % 4 = 3 group by 1, 2),
         |ad as (select e.vec_id, c.list,
         |   sum(pow(cast(e.embedding[c.i+1] as double) - c.m, 2)) d2
         |  from embeddings e, cent c group by 1, 2),
         |assign as (select vec_id, list from (
         |  select vec_id, list, row_number() over (partition by vec_id
         |    order by d2, list) rn from ad) x where rn = 1),
         |cb as (select vec_id cbid, row_number() over (order by vec_id) - 1 j
         |  from (select vec_id from embeddings where vec_id % 4 = 3
         |        order by vec_id limit 16)),
         |cwe as (select cb.j, t.i,
         |   floor(cast(e.embedding[t.i+1] as double)*1e6 + 0.5) w
         |  from cb join embeddings e on e.vec_id = cb.cbid,
         |       (select unnest(range(0,64)) i) t),
         |vqe as (select vec_id, t.i,
         |   cast(floor(cast(embedding[t.i+1] as double)*1e6 + 0.5) as bigint)
         |     vqv
         |  from embeddings, (select unnest(range(0,64)) i) t),
         |subd as (select v.vec_id, c.j, (v.i // 8) s,
         |   sum((v.vqv - c.w) * (v.vqv - c.w)) d2
         |  from vqe v join cwe c on c.i = v.i group by 1, 2, 3),
         |codes as (select vec_id, s, j code from (
         |  select vec_id, s, j, row_number() over (partition by vec_id, s
         |    order by d2, j) rn from subd) x where rn = 1),
         |codesum as (select vec_id, cast(sum(code) as bigint) csum
         |  from codes group by 1),
         |bounds as (select i, min(vqv) lo, max(vqv) hi
         |  from vqe where vec_id % 4 = 3 group by 1),
         |sqc as (select v.vec_id, v.i,
         |  case when b.hi = b.lo then cast(0 as bigint) else
         |    least(greatest(case when v.vqv >= b.lo
         |      then (2*(v.vqv - b.lo)*255 + (b.hi - b.lo))
         |             // (2*(b.hi - b.lo))
         |      else -((2*(b.lo - v.vqv)*255 + (b.hi - b.lo))
         |             // (2*(b.hi - b.lo))) end,
         |      cast(0 as bigint)), cast(255 as bigint)) end code
         |  from vqe v join bounds b using (i)),
         |sqsum as (select vec_id, cast(sum(code) as bigint) ssum
         |  from sqc group by 1),
         |dec as (select s.vec_id,
         |   list(cast(b.lo + ((2*s.code*(b.hi - b.lo) + 255) // 510)
         |     as double)/1e6 order by s.i) demb
         |  from sqc s join bounds b using (i) group by 1),
         |q as (select embedding qv from embeddings where vec_id = 0),
         |qd as (select c.list, sum(pow(cast(q.qv[c.i+1] as double) - c.m, 2)) d2
         |  from cent c, q group by c.list),
         |probe as (select list from qd order by d2, list limit 3),
         |qtab as (select s, j, d2 from subd where vec_id = 0),
         |cand as (select a.vec_id from assign a join probe using (list)),
         |adc as (select c.vec_id, cast(sum(qt.d2) as bigint) adc_u
         |  from codes c join qtab qt on qt.s = c.s and qt.j = c.code
         |  where c.vec_id in (select vec_id from cand)
         |  group by 1),
         |topr as (select vec_id, adc_u from adc
         |  order by adc_u, vec_id limit 20),
         |rr as (select t2.vec_id, t2.adc_u,
         |   ${cosQSql("d.demb", "q.qv")} cosine
         |  from topr t2 join dec d on d.vec_id = t2.vec_id, q),
         |top5 as (select * from (select *, row_number()
         |  over (order by cosine desc, vec_id) rk from rr) z where rk <= 5),
         |pb as (select cast(count(*) as bigint) probe_n,
         |   cast(sum(vec_id) as bigint) probe_ids, max(cosine) probe_max,
         |   cast(sum(adc_u) as bigint) probe_adc from top5)
         |select a.list, cast(count(*) as bigint) n_vecs,
         |  cast(sum(a.vec_id) as bigint) id_sum,
         |  cast(sum(sq.ssum) as bigint) sq_sum,
         |  cast(sum(cs.csum) as bigint) code_sum,
         |  cast(3 as int) snap_version, cast(2 as bigint) last_batch,
         |  probe_n, probe_ids, probe_max, probe_adc
         |from assign a join codesum cs using (vec_id)
         |  join sqsum sq using (vec_id) cross join pb
         |group by 1, probe_n, probe_ids, probe_max, probe_adc""")
        .stripMargin),

    Query("q_embedding_neardup", (s, dir) => {
      // embedding-cosine near-dup (the 5th dedup modality), exercised on
      // the BUCKETED scale path: the corpus gets planted near-duplicates
      // (every 10th vector + a deterministically perturbed copy — coord i
      // scaled by 1 + 0.002*(((i + id) % 7) - 3), reproducible in any SQL
      // engine), and pairs are mined with the EXACT staggered-grid
      // epsilon-join (Similarity.gridNearDuplicates): cell-local joins
      // only, no all-pairs product, recall 1 by the projection bound — so
      // the output hash-matches the oracle's exhaustive twin.
      val base = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      // orig_id rename: Spark 4 lateral-alias resolution binds a lambda's
      // col("vec_id") to the NEW alias (+1000000) while DuckDB lambdas see
      // the ORIGINAL — the r12 round(4) masked that phase mismatch; with
      // distinct names both engines perturb with the original id
      val copies = base.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("orig_id"), col("v"))
        .select((col("orig_id") + 1000000L).as("vec_id"),
          transform(col("v"), (x, i) =>
            x * (lit(1.0) + lit(0.002) *
              (((i.cast("long") + col("orig_id")) % 7) - 3).cast("double"))).as("v"))
      // r13 exactGrid: the pair cosine rides the integer grid, so the
      // emitted double is bit-identical across engines without a round;
      // the 0.99-vs-~0.9999/0.51 planted margin dwarfs the grid's 1e-12
      // membership tolerance
      Similarity.gridNearDuplicates(base.unionByName(copies), "vec_id", "v",
          threshold = 0.99, dim = 64, exactGrid = true)
        .select(col("id_a"), col("id_b"), col("cosine"))
    },
      s"""with base as (select vec_id,
         |  list_transform(embedding, x -> cast(x as double)) v from embeddings),
         |cop as (select b.vec_id + 1000000 vec_id,
         |  list_transform(v, (x, i) -> x * (cast(1.0 as double)
         |    + cast(0.002 as double)
         |      * cast(((i - 1 + b.vec_id) % 7) - 3 as double))) v
         | from base b where b.vec_id % 10 = 0),
         |corpus as (select * from base union all select * from cop)
         |select id_a, id_b, cosine from (
         | select a.vec_id id_a, b.vec_id id_b,
         |   ${cosQSql("a.v", "b.v")} cosine
         | from corpus a join corpus b on a.vec_id < b.vec_id) t
         |where cosine >= 0.99""".stripMargin),

    Query("q_semantic_dedup", (s, dir) => {
      // SemDeDup-style semantic dedup: same deterministic near-identical
      // planting as q_embedding_neardup (every 10th vector + a perturbed
      // copy, cosine ≈ 0.9999 vs ≤ 0.48 for genuine pairs — wide
      // cross-engine margin), clusters = the stored label column (the
      // precomputed-assignment form the scale pipeline uses). Pairs are
      // cluster-local; a doc survives iff no lower-id in-cluster
      // neighbor has cosine ≥ 0.99. The oracle replays the rule with an
      // exhaustive within-label join.
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      // orig_id rename: same lateral-alias hazard as q_embedding_neardup —
      // both engines must perturb with the ORIGINAL id
      val copies = base.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("orig_id"), col("label"), col("v"))
        .select((col("orig_id") + 1000000L).as("vec_id"), col("label"),
          transform(col("v"), (x, i) =>
            x * (lit(1.0) + lit(0.002) *
              (((i.cast("long") + col("orig_id")) % 7) - 3).cast("double"))).as("v"))
      Similarity.semanticDedup(base.unionByName(copies), "vec_id", "v",
          "label", threshold = 0.99)
        .orderBy("vec_id")
    },
      """with base as (select vec_id, label,
        |  list_transform(embedding, x -> cast(x as double)) v from embeddings),
        |cop as (select b.vec_id + 1000000 vec_id, label,
        |  list_transform(v, (x, i) -> x * (cast(1.0 as double)
        |    + cast(0.002 as double)
        |      * cast(((i - 1 + b.vec_id) % 7) - 3 as double))) v
        | from base b where b.vec_id % 10 = 0),
        |corpus as (select * from base union all select * from cop),
        |n as (select vec_id, label, v,
        |  sqrt(list_sum(list_transform(v, x -> x*x))) nrm from corpus),
        |near as (select b.vec_id, cast(count(*) as bigint) n_near
        |  from n a join n b on a.label = b.label and a.vec_id < b.vec_id
        |  where list_sum(list_transform(range(1, len(a.v) + 1),
        |    i -> a.v[i]*b.v[i]))/(a.nrm*b.nrm) >= 0.99
        |  group by 1)
        |select c.vec_id, c.label as "cluster", coalesce(nn.n_near, 0) n_near,
        |  case when nn.vec_id is null then 1 else 0 end kept
        |from corpus c left join near nn using (vec_id)
        |order by c.vec_id""".stripMargin),

    Query("q_semantic_decontaminate", (s, dir) => {
      // embedding-space decontamination (Similarity.crossNearDuplicates):
      // the benchmark side is every 5th corpus vector re-labeled, so each
      // must match exactly its own twin at cosine 1 and nothing else (the
      // corpus max off-pair cosine is ~0.51). Broadcast nested-loop by
      // design — the eval set ships whole, the corpus never shuffles.
      // r13 exactGrid: integer-grid cosine, no round — self-pairs score
      // ~1.0 vs ≤~0.51 off-pairs, so the 0.9 threshold has huge margin
      val e = t(s, dir, "embeddings")
      val bench = e.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 100000).as("bid"), col("embedding").as("bv"))
      Similarity.crossNearDuplicates(e, "vec_id", "embedding",
          bench, "bid", "bv", threshold = 0.9, exactGrid = true)
        .select(col("corpus_id"), col("bench_id"), col("cosine"))
    },
      s"""with c as (select vec_id, embedding cv from embeddings),
         |b as (select vec_id + 100000 bid, embedding bv from embeddings
         |      where vec_id % 5 = 0),
         |p as (select c.vec_id corpus_id, b.bid bench_id,
         |  ${cosQSql("cv", "bv")} cosine
         | from c, b)
         |select corpus_id, bench_id, cosine
         |from p where cosine >= 0.9""".stripMargin),

    Query("q_embedding_quantize", (s, dir) => {
      // SQ8 embedding quantisation (Similarity.quantizeInt8): per-vector
      // dequant step max|v|/127, integer codes in [-127,127]. The output
      // folds the codes to scalars (sum, sum of squares) so the oracle
      // replays the identical round(v/s) arithmetic list-wise; float
      // inputs widen to double in BOTH engines before the divide.
      Similarity.quantizeInt8(
          t(s, dir, "embeddings").filter(col("vec_id") % 5 === 0),
          "vec_id", "embedding")
        .select(col("vec_id"), q6(col("scale")).as("qstep"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          aggregate(col("q"), lit(0L), (a, x) => a + x * x).as("q_l2"))
    },
      """with e as (select vec_id, embedding v from embeddings where vec_id % 5 = 0),
        |m as (select vec_id, v,
        |  list_max(list_transform(v, x -> abs(cast(x as double)))) mx from e),
        |q as (select vec_id, mx/127.0 s,
        |  case when mx = 0 then list_transform(v, x -> cast(0 as bigint))
        |       else list_transform(v,
        |         x -> cast(round(cast(x as double) / (mx/127.0)) as bigint)) end qs
        |  from m)
        |select vec_id, floor(s * 1e6 + 0.5) / 1e6 qstep,
        |  cast(list_sum(qs) as bigint) q_sum,
        |  cast(list_sum(list_transform(qs, x -> x*x)) as bigint) q_l2
        |from q""".stripMargin),

    Query("q_kmeans_embeddings", (s, dir) => {
      // Lloyd k-means, k=4, 2 update rounds (Similarity.kmeansLloyd):
      // deterministic lowest-id seeds, integer micro-unit arithmetic end
      // to end, so the DuckDB oracle unrolls the identical trajectory.
      // Assignment is a per-row argmin over the broadcast centroid
      // literal (shuffle-free); updates are one (label,pos) hash-agg.
      Similarity.kmeansLloyd(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 4, iters = 2)
        .select(col("id").as("vec_id"), col("label"), col("d2_u"))
    },
      """with base as (select vec_id id,
        |  list_transform(embedding,
        |    x -> cast(floor(cast(x as double) * 1e6 + 0.5) as bigint)) vq
        | from embeddings),
        |c0 as (select cast(row_number() over (order by id) - 1 as int) as label,
        |    vq cq from (select * from base order by id limit 4)),
        |d1 as (select b.id, b.vq, c.label,
        |    cast(list_sum(list_transform(range(len(b.vq)),
        |      i -> (b.vq[i+1] - c.cq[i+1]) * (b.vq[i+1] - c.cq[i+1])))
        |      as bigint) d2
        |  from base b cross join c0 c),
        |a1 as (select id, vq, label, d2 from
        |  (select *, row_number() over (partition by id order by d2, label) rn
        |   from d1) where rn = 1),
        |u1 as (select label, pos,
        |    cast(round(cast(sum(v) as double) / count(*)) as bigint) cv
        |  from (select label, unnest(vq) v, unnest(range(len(vq))) pos from a1)
        |  group by 1, 2),
        |c1 as (select label, list(cv order by pos) cq from u1 group by 1),
        |d2i as (select b.id, b.vq, c.label,
        |    cast(list_sum(list_transform(range(len(b.vq)),
        |      i -> (b.vq[i+1] - c.cq[i+1]) * (b.vq[i+1] - c.cq[i+1])))
        |      as bigint) d2
        |  from base b cross join c1 c),
        |a2 as (select id, vq, label, d2 from
        |  (select *, row_number() over (partition by id order by d2, label) rn
        |   from d2i) where rn = 1),
        |u2 as (select label, pos,
        |    cast(round(cast(sum(v) as double) / count(*)) as bigint) cv
        |  from (select label, unnest(vq) v, unnest(range(len(vq))) pos from a2)
        |  group by 1, 2),
        |c2 as (select label, list(cv order by pos) cq from u2 group by 1),
        |d3 as (select b.id, b.vq, c.label,
        |    cast(list_sum(list_transform(range(len(b.vq)),
        |      i -> (b.vq[i+1] - c.cq[i+1]) * (b.vq[i+1] - c.cq[i+1])))
        |      as bigint) d2
        |  from base b cross join c2 c)
        |select id vec_id, label, d2 d2_u from
        |  (select *, row_number() over (partition by id order by d2, label) rn
        |   from d3) where rn = 1""".stripMargin),

    Query("q_pq_adc", (s, dir) => {
      // Product quantisation + ADC scoring (Similarity.pqEncodeAdc):
      // 64-dim vectors -> 8 codes from a 16-codeword sampled codebook;
      // the ADC distance to vec 7 is a pure lookup-table sum (the table
      // is one driver-computed literal), all in exact int64 micro-units
      // so the oracle replays encode and scoring identically.
      Similarity.pqEncodeAdc(t(s, dir, "embeddings"), "vec_id", "embedding",
          m = 8, k = 16, queryId = 7L)
        .select(col("id").as("vec_id"), col("code_str"), col("adc_u"))
    },
      """with base as (select vec_id id,
        |  list_transform(embedding,
        |    x -> cast(floor(cast(x as double) * 1e6 + 0.5) as bigint)) vq
        | from embeddings),
        |cb as (select cast(row_number() over (order by id) - 1 as int) as j,
        |    vq cq from (select * from base order by id limit 16)),
        |q as (select vq qv from base where id = 7),
        |ss as (select unnest(range(8)) s),
        |d as (select b.id, ss.s, c.j,
        |    cast(list_sum(list_transform(range(8),
        |      i -> (b.vq[ss.s*8+i+1] - c.cq[ss.s*8+i+1])
        |         * (b.vq[ss.s*8+i+1] - c.cq[ss.s*8+i+1]))) as bigint) d2
        |  from base b cross join ss cross join cb c),
        |codes as (select id, s, j code from
        |  (select *, row_number() over (partition by id, s order by d2, j) rn
        |   from d) where rn = 1),
        |t as (select ss.s, c.j,
        |    cast(list_sum(list_transform(range(8),
        |      i -> (q.qv[ss.s*8+i+1] - c.cq[ss.s*8+i+1])
        |         * (q.qv[ss.s*8+i+1] - c.cq[ss.s*8+i+1]))) as bigint) td
        |  from q cross join ss cross join cb c)
        |select c.id vec_id,
        |  array_to_string(list(c.code order by c.s), '-') code_str,
        |  cast(sum(t.td) as bigint) adc_u
        |from codes c join t on t.s = c.s and t.j = c.code
        |group by c.id""".stripMargin),

    Query("q_ivf_pq_topk", (s, dir) => {
      // The composed ANN scale path (Similarity.ivfPqTopK): an 8-cell
      // coarse quantizer prunes to the query's 2 nearest cells (at lake
      // scale the cell is a partition column -> partition pruning), then
      // PQ codes + the broadcast ADC table score only the survivors.
      // Exact int64 micro-units end to end; the oracle replays pruning,
      // encode and scoring identically.
      Similarity.ivfPqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          kCoarse = 8, m = 8, k = 16, nprobe = 2, queryId = 7L, topK = 20)
        .select(col("id").as("vec_id"), col("cell"), col("code_str"), col("adc_u"))
    },
      """with base as (select vec_id id,
        |  list_transform(embedding,
        |    x -> cast(floor(cast(x as double) * 1e6 + 0.5) as bigint)) vq
        | from embeddings),
        |cb as (select cast(row_number() over (order by id) - 1 as int) as j,
        |    vq cq from (select * from base order by id limit 16)),
        |q as (select vq qv from base where id = 7),
        |cd as (select b.id, b.vq, c.j,
        |    cast(list_sum(list_transform(range(len(b.vq)),
        |      i -> (b.vq[i+1] - c.cq[i+1]) * (b.vq[i+1] - c.cq[i+1])))
        |      as bigint) d2
        |  from base b cross join (select * from cb where j < 8) c),
        |cell as (select id, vq, j cell from
        |  (select *, row_number() over (partition by id order by d2, j) rn
        |   from cd) where rn = 1),
        |pr as (select c.j from q cross join (select * from cb where j < 8) c
        |  order by cast(list_sum(list_transform(range(len(q.qv)),
        |    i -> (q.qv[i+1] - c.cq[i+1]) * (q.qv[i+1] - c.cq[i+1])))
        |    as bigint), c.j limit 2),
        |pruned as (select cell.id, cell.vq, cell.cell from cell
        |  join pr on pr.j = cell.cell),
        |ss as (select unnest(range(8)) s),
        |d as (select b.id, ss.s, c.j,
        |    cast(list_sum(list_transform(range(8),
        |      i -> (b.vq[ss.s*8+i+1] - c.cq[ss.s*8+i+1])
        |         * (b.vq[ss.s*8+i+1] - c.cq[ss.s*8+i+1]))) as bigint) d2
        |  from pruned b cross join ss cross join cb c),
        |codes as (select id, s, j code from
        |  (select *, row_number() over (partition by id, s order by d2, j) rn
        |   from d) where rn = 1),
        |t as (select ss.s, c.j,
        |    cast(list_sum(list_transform(range(8),
        |      i -> (q.qv[ss.s*8+i+1] - c.cq[ss.s*8+i+1])
        |         * (q.qv[ss.s*8+i+1] - c.cq[ss.s*8+i+1]))) as bigint) td
        |  from q cross join ss cross join cb c),
        |sc as (select c.id,
        |    array_to_string(list(c.code order by c.s), '-') code_str,
        |    cast(sum(t.td) as bigint) adc_u
        |  from codes c join t on t.s = c.s and t.j = c.code
        |  group by c.id)
        |select sc.id vec_id, p.cell, sc.code_str, sc.adc_u
        |from sc join (select distinct id, cell from pruned) p on p.id = sc.id
        |order by sc.adc_u, sc.id limit 20""".stripMargin)
  )
}
