package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (north-star M6):
  * brute-force cosine top-k as the exactness baseline, and an
  * LSH-bucketed (sign-signature) variant as the 100 TB path — the
  * bucket join replaces the all-pairs product with a per-bucket one,
  * exactly how a distributed ANN sweep shards.
  *
  * Determinism: dot products are sequential index-ordered double
  * folds on both engines (verified bit-identical against DuckDB's
  * list_dot_product); ranks tie-break on neighbor id; reported
  * similarity is rounded to 9 dp.
  */
object VectorOps {
  import Relational.t

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** codegen'd native expression — same index-ordered fold as the HOF
    * form it replaced (see [[graft.functions.DotProduct]])
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct(a, b)

  private def emb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "embeddings").select($"vec_id", asDouble($"embedding").as("v"))
  }

  /** sign-signature LSH bucket over the first 8 dims — the shard key
    * for candidate-pair generation (two near-identical vectors agree
    * on every non-near-zero sign, so cosine≥0.999 pairs land in the
    * same bucket with overwhelming probability; multi-probe on the
    * near-zero dims is the recall lever at scale).
    */
  private def signBucket(v: Column): Column =
    aggregate(sequence(lit(0), lit(7)), lit(0L),
      (acc, i) => acc + when(element_at(v, i + 1) > 0,
        pow(lit(2.0), i).cast("long")).otherwise(lit(0L)))

  /** near-zero threshold for multi-probe: a signature dim this close
    * to zero may flip sign between two near-identical vectors
    */
  private val ProbeEps = 0.05

  /** the trained K=16 / 2-iteration assignment, a fixture memo (a
    * trained index artifact) — the IVF family (v_knn_ivf / ivfpq /
    * ivfpq_res / v_semdedup) shares ONE training run; the
    * localCheckpoint pins the result and releases the trainer's caches
    */
  private[queries] def ivfTrained(s: SparkSession, dir: String): DataFrame =
    graft.Memo.fixture("VectorOps.ivfTrained", s, dir) {
      import s.implicits._
      val e = emb(s, dir).withColumn("norm", sqrt(dot($"v", $"v"))).cache()
      val trained = ivfAssigned(s, e, K = 16, iters = 2).localCheckpoint()
      e.unpersist()
      trained
    }

  /** Fixed-iteration Lloyd k-means coarse quantizer: seeded with the
    * K lowest-id vectors, centroid means in integer-micro arithmetic
    * (order-independent long sums, floored division — the
    * pageRankMicro determinism recipe), so the exact same centroids
    * fall out of the unrolled DuckDB oracle. Assignment is
    * distributed; only the K×dim centroid table rides the driver
    * between iterations (the standard k-means shape). Returns the
    * fully-trained assignment frame `(vec_id, v, norm, cid, csim, r)`
    * with r = rank of cid by cosine (r = 1 is the home cell, r ≤
    * nprobe the probe cells).
    */
  private def ivfAssigned(s: SparkSession, e: DataFrame, K: Int,
      iters: Int): DataFrame = {
    import s.implicits._
    var cents: Seq[(Long, Seq[Double])] = e.orderBy($"vec_id").limit(K)
      .select($"vec_id".cast("long"), $"v")
      .as[(Long, Seq[Double])].collect().toSeq
    def centDf = cents.toDF("cid", "cv")
      .withColumn("cn", sqrt(dot($"cv", $"cv")))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cid")
    def assigned = e.crossJoin(broadcast(centDf))
      .withColumn("csim", dot($"v", $"cv") / ($"norm" * $"cn"))
      .withColumn("r", row_number().over(wAssign))
    for (_ <- 1 to iters) {
      val sums = assigned.filter($"r" === 1)
        .select($"cid", posexplode($"v").as(Seq("pos", "val")))
        .groupBy($"cid", $"pos")
        .agg(sum(round($"val" * 1e6, 0).cast("long")).as("sm"),
          count(lit(1)).as("cnt"))
        .select($"cid", $"pos", (floor($"sm" / $"cnt") / 1e6).as("m"))
        .collect()
      val byCid = sums.groupBy(_.getLong(0)).map { case (cid, rows) =>
        cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
      }
      // an emptied cluster keeps its previous centroid
      cents = cents.map { case (cid, old) =>
        (cid, byCid.getOrElse(cid, old))
      }
    }
    assigned
  }

  /** PQ encode + decode over `(vec_id, v)` rows: M=4 sub-space
    * codebooks of 16 entries each, seeded from the 16 lowest vec_ids
    * and refined by ONE integer-micro Lloyd step (the deterministic
    * k-means recipe every trained op here uses), L2 assignment with
    * (code) tie-break. Returns `(vec_id, dq)` where dq is the decoded
    * (quantized) vector — the concatenation of each sub-space's
    * winning codebook entry. Shared by v_knn_ivfpq (PQ over raw
    * vectors) and v_knn_ivfpq_res (PQ over IVF residuals, FAISS's
    * default — finer codes because residual variance ≪ raw variance).
    * Scale: codebooks are 64 rows (broadcast); the only shuffles are
    * the per-(m,code,pos) refinement aggregate and the per-vec_id
    * decode regroup.
    */
  private def pqDecode(s: SparkSession, ev: DataFrame): DataFrame = {
    import s.implicits._
    val M = 4; val SUB = 16; val CODES = 16
    var cb: Seq[(Int, Long, Seq[Double])] = ev.orderBy($"vec_id")
      .limit(CODES).select($"vec_id".cast("long"), $"v")
      .as[(Long, Seq[Double])].collect().toSeq
      .flatMap { case (code, v) =>
        (0 until M).map(m => (m, code, v.slice(m * SUB, (m + 1) * SUB)))
      }
    // The codebook is DRIVER-LOCAL (M·CODES = 64 rows), so both
    // assignment passes compute PER-ROW against a literal entry
    // array: array_min over struct(dist, code, cv) is the same
    // (L2 asc, code asc) argmin the old window ranked — with no M-way
    // explode, no broadcast join, and no exchange+sort, twice (r16,
    // guide §2.4). cv·cv rides the literal, computed with the exact
    // sequential fold DotProduct runs, so dist doubles (and therefore
    // every argmin and tie-break) are bit-identical to the old plan.
    def cvv(cv: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < cv.length) { acc += cv(i) * cv(i); i += 1 }
      acc
    }
    def bestM(cbNow: Seq[(Int, Long, Seq[Double])], m: Int): Column = {
      val entries = cbNow.filter(_._1 == m).sortBy(_._2)
        .map { case (_, code, cv) => (code, cv, cvv(cv)) }
      val sv = slice($"v", m * SUB + 1, SUB)
      array_min(transform(typedLit(entries), e =>
        struct(
          (dot(sv, sv) - lit(2.0) * dot(sv, e.getField("_2"))
            + e.getField("_3")).as("dist"),
          e.getField("_1").as("code"),
          e.getField("_2").as("cv"))))
    }
    // ONE integer-micro Lloyd step: per-(m, code, pos) means over the
    // SEED assignment — the only shuffle left, map-side combined to
    // ≤ M·CODES·SUB groups
    val seed = cb
    val sums = ev
      .select(explode(array((0 until M).map { m =>
        struct(lit(m).as("m"), bestM(seed, m)("code").as("code"),
          slice($"v", m * SUB + 1, SUB).as("sv"))
      }: _*)).as("a"))
      .select($"a.m".as("m"), $"a.code".as("code"),
        posexplode($"a.sv").as(Seq("pos", "val")))
      .groupBy($"m", $"code", $"pos")
      .agg(sum(round($"val" * 1e6, 0).cast("long")).as("sm"),
        count(lit(1)).as("cnt"))
      .select($"m", $"code", $"pos",
        (floor($"sm" / $"cnt") / 1e6).as("mu"))
      .collect()
    val byKey = sums.groupBy(r => (r.getInt(0), r.getLong(1)))
      .map { case (k, rows) =>
        k -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq }
    // an emptied code keeps its seed entry
    cb = cb.map { case (m, code, old) =>
      (m, code, byKey.getOrElse((m, code), old)) }
    // encode each vector against the REFINED codebook; decode =
    // concatenate the winning entries in sub-space order — per-row,
    // no regroup
    ev.select($"vec_id",
      concat((0 until M).map(m => bestM(cb, m)("cv")): _*).as("dq"))
  }

  /** Bucketed + multi-probed near-dup pairs over `(vec_id, label, v)`
    * rows — the dedup_embedding kernel, exposed for the recall spec
    * (VectorSpec asserts it equals exact all-pairs on a fixture whose
    * near-zero dims straddle zero).
    */
  def dedupEmbedding(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val en = graft.Scratch.track(
      e.withColumn("norm", sqrt(dot($"v", $"v")))
        .withColumn("bucket", signBucket($"v"))
        .withColumn("nz", slice(filter(sequence(lit(0), lit(7)),
          i => abs(element_at($"v", i + 1)) < ProbeEps), 1, 3))
        .cache())
    // probe set: bucket XOR every subset of the near-zero sign bits
    val probeList = when(size($"nz") === 0, array($"bucket"))
      .otherwise(transform(
        sequence(lit(0), pow(lit(2.0), size($"nz")).cast("int") - 1),
        m => $"bucket".bitwiseXOR(
          aggregate(sequence(lit(0), size($"nz") - 1), lit(0L), (acc, j) =>
            acc + when(m.bitwiseAND(pow(lit(2.0), j).cast("int")) =!= 0,
              pow(lit(2.0), element_at($"nz", j + 1)).cast("long"))
              .otherwise(lit(0L))))))
    val pr = en.select($"vec_id".as("pa"), $"label",
      explode(probeList).as("probe"))
    val prim = en.select($"vec_id".as("pb"), $"label".as("lb"), $"bucket")
    // candidate ids only — the verify join re-fetches vectors by id,
    // so multi-bucket collisions dedup BEFORE any dot product runs
    val cand = pr
      .join(prim, $"label" === $"lb" && $"probe" === $"bucket")
      .filter($"pa" =!= $"pb")
      .select(least($"pa", $"pb").as("da"), greatest($"pa", $"pb").as("db"))
      .distinct()
    val va = en.select($"vec_id".as("da"), $"v".as("va"), $"norm".as("na"))
    val vb = en.select($"vec_id".as("db"), $"v".as("vb"), $"norm".as("nb"))
    cand.join(va, "da").join(vb, "db")
      .withColumn("sim", dot($"va", $"vb") / ($"na" * $"nb"))
      .filter($"sim" >= 0.999)
      .select($"da", $"db", round($"sim", 9).as("sim"))
      .orderBy($"da", $"db")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-vector stats: dim + L2 norm (ordered fold, exact parity).
    "v_norm" -> ((s, dir) => {
      import s.implicits._
      emb(s, dir)
        .select($"vec_id", size($"v").as("dim"),
          round(sqrt(dot($"v", $"v")), 9).as("norm"))
        .orderBy($"vec_id")
    }),

    // brute-force cosine top-5 for query vectors vec_id < 20.
    // Norms are precomputed per vector (not per pair): the cross join
    // only evaluates the one dot product it must.
    "v_knn_brute" -> ((s, dir) => {
      import s.implicits._
      val e = graft.Scratch.track(
        emb(s, dir).withColumn("norm", sqrt(dot($"v", $"v"))).cache())
      val q = e.filter($"vec_id" < 20)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"norm".as("qn"))
      val c = e.select($"vec_id".as("nid"), $"v".as("nv"), $"norm".as("nn"))
      val scored = q.join(c, $"qid" =!= $"nid")
        .withColumn("sim", dot($"qv", $"nv") / ($"qn" * $"nn"))
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 5)
        .select($"qid", $"rank".cast("long").as("rank"), $"nid",
          round($"sim", 9).as("sim"))
        .orderBy($"qid", $"rank")
    }),

    // Metadata-FILTERED ANN (the modern filtered-search shape): each
    // query's neighbors must share its label. The filter IS the join
    // key — label equality prunes candidates BEFORE any scoring
    // (pre-filtering; post-filtering a top-k collapses recall when
    // the predicate is selective). At scale the label-keyed join
    // composes with the bucket/IVF family: (label, bucket) becomes
    // the shard key.
    "v_knn_filtered" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
        .select($"vec_id", asDouble($"embedding").as("v"), $"label")
        .withColumn("norm", sqrt(dot($"v", $"v")))
      val q = e.filter($"vec_id" < 20)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"norm".as("qn"),
          $"label")
      val c = e.select($"vec_id".as("nid"), $"v".as("nv"),
        $"norm".as("nn"), $"label")
      val scored = q.join(c, Seq("label")).filter($"qid" =!= $"nid")
        .withColumn("sim", dot($"qv", $"nv") / ($"qn" * $"nn"))
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 5)
        .select($"qid", $"label", $"rank".cast("long").as("rank"),
          $"nid", round($"sim", 9).as("sim"))
        .orderBy($"qid", $"rank")
    }),

    // LSH-bucketed ANN: sign-signature buckets over the first 8 dims;
    // top-3 within bucket only (the distributed scale path).
    "v_knn_lsh" -> ((s, dir) => {
      import s.implicits._
      val e = graft.Scratch.track(emb(s, dir)
        .withColumn("norm", sqrt(dot($"v", $"v")))
        .withColumn("bucket", signBucket($"v"))
        .cache())
      val q = e.filter($"vec_id" < 50)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"norm".as("qn"), $"bucket")
      val c = e.select($"vec_id".as("nid"), $"v".as("nv"), $"norm".as("nn"),
        $"bucket")
      val scored = q.join(c, Seq("bucket")).filter($"qid" =!= $"nid")
        .withColumn("sim", dot($"qv", $"nv") / ($"qn" * $"nn"))
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"qid", $"rank".cast("long").as("rank"), $"nid",
          round($"sim", 9).as("sim"))
        .orderBy($"qid", $"rank")
    }),

    // Binary-quantization ANN (the 1-bit compression tier modern
    // vector stores ship — faiss IndexBinaryFlat, BQ+rescore): each
    // vector compresses to its 64 sign bits packed into two 32-bit
    // halves (8 bytes — 64× off the float scan). Candidate
    // generation scores HAMMING distance with codegen'd xor +
    // bit_count over the packed codes, keeps the top C=50 per query
    // (hamming ASC, nid tie-break), and only those candidates fetch
    // their float vectors for the exact cosine rescore. At scale the
    // hamming pass is the cheap full scan (16 B/vector, SIMD-able
    // popcount) and the rescore a bounded id-join — the standard
    // quantize-then-rescore recipe. Every tie-break is pinned, so
    // DuckDB replays the identical pipeline (hamming re-derived as
    // the dim-wise sign-disagreement count, which IS popcount(xor)).
    "v_knn_bq" -> ((s, dir) => {
      import s.implicits._
      def half(v: Column, off: Int): Column =
        aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, j) =>
          acc + when(element_at(v, j + off + 1) > 0,
            pow(lit(2.0), j).cast("long")).otherwise(lit(0L)))
      val e = graft.Scratch.track(emb(s, dir)
        .withColumn("c0", half($"v", 0))
        .withColumn("c1", half($"v", 32))
        .withColumn("norm", sqrt(dot($"v", $"v")))
        .cache())
      val qc = e.filter($"vec_id" < 20)
        .select($"vec_id".as("qid"), $"c0".as("q0"), $"c1".as("q1"))
      val cc = e.select($"vec_id".as("nid"), $"c0", $"c1")
      val wh = Window.partitionBy($"qid").orderBy($"hamming", $"nid")
      val cand = qc.join(cc, $"qid" =!= $"nid")
        .withColumn("hamming",
          bit_count($"q0".bitwiseXOR($"c0")) +
            bit_count($"q1".bitwiseXOR($"c1")))
        .withColumn("hrank", row_number().over(wh))
        .filter($"hrank" <= 50)
        .select($"qid", $"nid", $"hamming")
      val qv = e.select($"vec_id".as("qid"), $"v".as("qv"),
        $"norm".as("qn"))
      val nv = e.select($"vec_id".as("nid"), $"v".as("nv"),
        $"norm".as("nn"))
      val ws = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
      cand.join(qv, "qid").join(nv, "nid")
        .withColumn("sim", dot($"qv", $"nv") / ($"qn" * $"nn"))
        .withColumn("rank", row_number().over(ws))
        .filter($"rank" <= 5)
        .select($"qid", $"rank".cast("long").as("rank"), $"nid",
          $"hamming".cast("long").as("hamming"),
          round($"sim", 9).as("sim"))
        .orderBy($"qid", $"rank")
    }),

    // Recall evaluation — the measurement every ANN deployment runs:
    // brute-force top-5 is ground truth, the sign-bucket LSH top-5 is
    // the candidate, recall@5 = |∩|/5 per query. Both sides are
    // deterministic (sim DESC, nid tie-break), so the oracle replays
    // the whole evaluation; the LSH side only pays its bucket join.
    "v_recall_eval" -> ((s, dir) => {
      import s.implicits._
      val e = graft.Scratch.track(emb(s, dir)
        .withColumn("norm", sqrt(dot($"v", $"v")))
        .withColumn("bucket", signBucket($"v"))
        .cache())
      val q = e.filter($"vec_id" < 20)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"norm".as("qn"),
          $"bucket".as("qb"))
      val c = e.select($"vec_id".as("nid"), $"v".as("nv"),
        $"norm".as("nn"), $"bucket".as("cb"))
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
      def top5(scored: DataFrame): DataFrame =
        scored.withColumn("rank", row_number().over(w))
          .filter($"rank" <= 5).select($"qid", $"nid")
      val brute = top5(q.join(c, $"qid" =!= $"nid")
        .withColumn("sim", dot($"qv", $"nv") / ($"qn" * $"nn")))
      val lsh = top5(q.join(c, $"qb" === $"cb" && $"qid" =!= $"nid")
        .withColumn("sim", dot($"qv", $"nv") / ($"qn" * $"nn")))
      val hits = brute.join(lsh, Seq("qid", "nid"), "left_semi")
        .groupBy($"qid").agg(count(lit(1)).as("n_hits"))
      q.select($"qid").join(hits, Seq("qid"), "left_outer")
        .select($"qid", coalesce($"n_hits", lit(0L)).as("n_hits"),
          (coalesce($"n_hits", lit(0L)) / 5.0).as("recall"))
        .orderBy($"qid")
    }),

    // Range search (the dedup-shaped query): every in-bucket neighbor
    // at or above a similarity THRESHOLD, not a fixed k — "find all
    // near-duplicates of this query set". Same sign-signature bucket
    // sharding as v_knn_lsh: the join fans each query only to its
    // bucket, which is what bounds the candidate set at scale.
    "v_range_search" -> ((s, dir) => {
      import s.implicits._
      val e = graft.Scratch.track(emb(s, dir)
        .withColumn("norm", sqrt(dot($"v", $"v")))
        .withColumn("bucket", signBucket($"v"))
        .cache())
      val q = e.filter($"vec_id" < 50)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"norm".as("qn"),
          $"bucket")
      val c = e.select($"vec_id".as("nid"), $"v".as("nv"), $"norm".as("nn"),
        $"bucket")
      q.join(c, Seq("bucket")).filter($"qid" =!= $"nid")
        .withColumn("sim", dot($"qv", $"nv") / ($"qn" * $"nn"))
        .filter($"sim" >= 0.2)
        .select($"qid", $"nid", round($"sim", 9).as("sim"))
        .orderBy($"qid", $"nid")
    }),

    // IVF ANN: a coarse quantizer assigns every vector to its nearest
    // of K centroids (the inverted lists); a query probes only its
    // NPROBE nearest cells. This is the standard billion-vector layout
    // (IVF-Flat): at 100 TB the cell id is the partition key — the
    // candidate join fans each query to nprobe cells instead of the
    // whole corpus, and the 16-row centroid table broadcasts.
    // The quantizer is TRAINED: fixed-iteration Lloyd k-means seeded
    // with the K lowest-id vectors, with centroid means computed in
    // integer-micro arithmetic (order-independent long sums, floored
    // division — the pageRankMicro determinism recipe), so the exact
    // same centroids fall out of the unrolled DuckDB oracle.
    // Assignment is distributed; only the K×dim centroid table rides
    // the driver between iterations (the standard k-means shape).
    "v_knn_ivf" -> ((s, dir) => {
      import s.implicits._
      val NPROBE = 2
      val trained = ivfTrained(s, dir)
      val cells = trained.filter($"r" === 1)
        .select($"vec_id".as("nid"), $"v".as("nv"), $"norm".as("nn"),
          $"cid".as("cell"))
      val probes = trained.filter($"vec_id" < 30 && $"r" <= NPROBE)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"norm".as("qn"),
          $"cid".as("cell"))
      val scored = probes.join(cells, Seq("cell")).filter($"qid" =!= $"nid")
        .withColumn("sim", dot($"qv", $"nv") / ($"qn" * $"nn"))
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"qid", $"rank".cast("long").as("rank"), $"nid",
          round($"sim", 9).as("sim"))
        .orderBy($"qid", $"rank")
    }),

    // graph-based ANN (the HNSW/DiskANN-class high-recall tier): a
    // deterministic NSW-style proximity graph + fixed-round beam
    // search. Construction bounds candidate generation the IVF way —
    // edges are the top-R cosine neighbors among vectors sharing a
    // home-or-probe cell (membership r<=2 links adjacent cells, which
    // is what makes the graph navigable ACROSS cell boundaries, the
    // property IVF itself lacks). Search starts from one global entry
    // point and runs T beam rounds: expand the top-B frontier's
    // out-edges, score, merge. At 100 TB the graph is src-partitioned
    // and each round is one bounded shuffle (|Q|·B·R rows) — the
    // "per-partition graph + top-k merge" shape; total scored
    // candidates per query is <= 1 + T·B·R versus a full scan.
    // Everything is deterministic (fixed entry, sim-then-id
    // tie-breaks), so DuckDB replays the build and all T rounds.
    "v_knn_graph" -> ((s, dir) => {
      import s.implicits._
      val R = 8; val B = 4; val T = 3
      val trained = ivfTrained(s, dir)
      val vecs = trained.filter($"r" === 1).select($"vec_id", $"v", $"norm")
      val mem = trained.filter($"r" <= 2).select($"vec_id", $"cid")
      // score each unordered pair ONCE and mirror: the index-ordered
      // dot fold is bit-identical in both directions, so the mirrored
      // edge carries the exact sim the reverse computation would
      // broadcast the probe side: a shuffle join on cid would hash 16
      // distinct keys into 16 tasks (cell-count skew); broadcasting
      // keeps the pair generation at full parallelism over `a`
      val cand = mem.as("a").join(broadcast(mem.as("b")),
          $"a.cid" === $"b.cid" && $"a.vec_id" < $"b.vec_id")
        .select($"a.vec_id".as("src"), $"b.vec_id".as("dst")).distinct()
      val sv = vecs.select($"vec_id".as("src"), $"v".as("svec"),
        $"norm".as("sn"))
      val dv = vecs.select($"vec_id".as("dst"), $"v".as("dvec"),
        $"norm".as("dn"))
      // materialize the scored half-pairs ONCE — the mirror union
      // references it twice, and without the cache each union branch
      // would re-run the join + dot
      val half = graft.Scratch.track(cand.join(sv, "src").join(dv, "dst")
        .withColumn("esim", dot($"svec", $"dvec") / ($"sn" * $"dn"))
        .select($"src", $"dst", $"esim").cache())
      half.count()
      val sym = half.union(
        half.select($"dst".as("src"), $"src".as("dst"), $"esim"))
      val wG = Window.partitionBy($"src").orderBy($"esim".desc, $"dst")
      // the pruned graph is |V|·R rows — a few partitions keep the
      // per-round probe joins at task-launch cost, not 32 tasks each
      val graph = graft.Scratch.track(sym
        .withColumn("er", row_number().over(wG)).filter($"er" <= R)
        .select($"src", $"dst").coalesce(8).cache())
      val probes = vecs.filter($"vec_id" < 20)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"norm".as("qn"))
      val nb = vecs.select($"vec_id".as("nid"), $"v".as("nv"),
        $"norm".as("nn"))
      // entry points: one per cell (its lowest vec_id) — the HNSW
      // upper-layer analog. A single global entry navigates poorly on
      // distance-concentrated vectors (measured recall@5 0.23); K
      // coarse seeds recover 0.84 at a 6% scan fraction on sf0.1.
      val entry = trained.filter($"r" === 1)
        .groupBy($"cid").agg(min($"vec_id").as("nid")).drop("cid")
      // Loop-carried beam state rides the DRIVER (the k-means-centroid
      // pattern ivfAssigned already uses): it is bounded by
      // construction at |Q|·(seeds + T·B·R) rows — constants of the
      // search, independent of corpus size — while every dot product
      // is still computed by the same distributed expression as
      // before, so sims stay bit-identical. The r15 shape kept the
      // state in Spark frames and paid ~12 jobs per round (window,
      // distinct exchange, per-round broadcast builds, checkpoint);
      // this one pays ONE collect per round: the frontier arrives as
      // a LocalRelation whose broadcast never schedules a job.
      def score(cands: DataFrame): Array[(Long, Long, Double)] =
        cands.join(probes, "qid").join(nb, "nid")
          .withColumn("sim", dot($"qv", $"nv") / ($"qn" * $"nn"))
          .select($"qid".cast("long"), $"nid".cast("long"), $"sim")
          .as[(Long, Long, Double)].collect()
      val state = scala.collection.mutable.Map.empty[(Long, Long), Double]
      def merge(rows: Array[(Long, Long, Double)]): Unit =
        // duplicate (qid, nid) candidates carry the identical sim (same
        // expression over the same rows), so last-write merge == the
        // old groupBy+max
        rows.foreach { case (q, n, s0) => state((q, n)) = s0 }
      merge(score(probes.select($"qid").crossJoin(entry)
        .select($"qid", $"nid")))
      for (_ <- 1 to T) {
        // top-B frontier per query: same (sim desc, nid asc) order the
        // old row_number window used
        val frontier = state.toSeq
          .groupBy(_._1._1)
          .toSeq // a Map would re-key (and collapse) the tuple results
          .flatMap { case (_, m) =>
            m.sortBy { case ((_, n), s0) => (-s0, n) }.take(B)
          }
          .map { case ((q, n), _) => (q, n) }.sorted
        val fdf = frontier.toDF("qid", "src")
        // the old per-round distinct() on (qid, dst) only deduped
        // scoring work; duplicates are bounded by B·R per query and
        // the merge dedups them — dropping it removes one exchange
        // per round
        merge(score(fdf.join(graph, "src")
          .select($"qid", $"dst".as("nid"))))
      }
      val topk = state.toSeq
        .collect { case ((q, n), s0) if q != n => (q, n, s0) }
        .groupBy(_._1)
        .toSeq // keep Seq semantics through flatMap (no Map re-keying)
        .flatMap { case (_, m) =>
          m.sortBy { case (_, n, s0) => (-s0, n) }.take(5).zipWithIndex
            .map { case ((q, n, s0), i) => (q, (i + 1).toLong, n, s0) }
        }
        .sortBy(t => (t._1, t._2))
      topk.toDF("qid", "rank", "nid", "sim")
        .select($"qid", $"rank", $"nid", round($"sim", 9).as("sim"))
        .orderBy($"qid", $"rank")
    }),

    // scalar-quantized ANN (the FAISS-SQ8 compression path): each
    // dimension maps to an 8-bit code against a per-dimension
    // [min, max] codebook learned from the corpus — 4× less memory
    // than float32, and at 100 TB the codebook is a 64-row broadcast
    // while the scan reads codes only. Search runs on the DEQUANTIZED
    // values, so the approximation error is exactly the quantization
    // grid — deterministic, hence oracle-able (DuckDB replays the
    // identical encode/decode arithmetic).
    "v_knn_sq8" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val dims = e.select($"vec_id", posexplode($"v").as(Seq("i", "x")))
      val cb = dims.groupBy($"i").agg(min($"x").as("mn"), max($"x").as("mx"))
      val cbRow = cb.select(struct($"i", $"mn", $"mx").as("entry"))
        .agg(sort_array(collect_list($"entry")).as("cb"))
      val enc = e.crossJoin(broadcast(cbRow))
        .withColumn("dq", transform($"v", (x, i) => {
          val lo = element_at($"cb", i + 1).getField("mn")
          val hi = element_at($"cb", i + 1).getField("mx")
          val code = when(hi === lo, lit(0L))
            .otherwise(round((x - lo) * 255.0 / (hi - lo), 0).cast("long"))
          lo + code * (hi - lo) / 255.0
        }))
        .select($"vec_id", $"dq")
        .withColumn("norm", sqrt(dot($"dq", $"dq")))
        .cache()
      graft.Scratch.track(enc)
      val q = enc.filter($"vec_id" < 20)
        .select($"vec_id".as("qid"), $"dq".as("qv"), $"norm".as("qn"))
      val c = enc.select($"vec_id".as("nid"), $"dq".as("nv"), $"norm".as("nn"))
      val scored = q.join(c, $"qid" =!= $"nid")
        .withColumn("sim", dot($"qv", $"nv") / ($"qn" * $"nn"))
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 5)
        .select($"qid", $"rank".cast("long").as("rank"), $"nid",
          round($"sim", 9).as("sim"))
        .orderBy($"qid", $"rank")
    }),

    // IVF-PQ: product quantization on top of the trained IVF cells —
    // the standard billion-vector memory ladder after SQ8 (a 64-dim
    // float vector compresses to M=4 sub-space codes; at scale the
    // scan reads 4 bytes/vector + two broadcast codebooks: the 16×64
    // coarse centroids and the 4×16×16 PQ codebook). Same
    // deterministic recipe as IVF/SQ8: codebooks seed from the 16
    // lowest-id vectors' subvectors and refine with ONE integer-micro
    // Lloyd iteration per sub-space (L2 assignment, ties on code id);
    // search scores the query's EXACT vector against candidates'
    // PQ-DECODED vectors inside nprobe=2 coarse cells, so the
    // approximation error is exactly the codebook grid — DuckDB
    // replays encode/decode bit-for-bit.
    "v_knn_ivfpq" -> ((s, dir) => {
      import s.implicits._
      val NPROBE = 2
      val trained = ivfTrained(s, dir)
      val dec = pqDecode(s,
        trained.filter($"r" === 1).select($"vec_id", $"v"))
        .withColumn("dn", sqrt(dot($"dq", $"dq")))
      val cells = trained.filter($"r" === 1)
        .select($"vec_id".as("nid"), $"cid".as("cell"))
        .join(dec.select($"vec_id".as("nid"), $"dq", $"dn"), Seq("nid"))
      val probes = trained.filter($"vec_id" < 20 && $"r" <= NPROBE)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"norm".as("qn"),
          $"cid".as("cell"))
      val scored = probes.join(cells, Seq("cell")).filter($"qid" =!= $"nid")
        .withColumn("sim", dot($"qv", $"dq") / ($"qn" * $"dn"))
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"qid", $"rank".cast("long").as("rank"), $"nid",
          round($"sim", 9).as("sim"))
        .orderBy($"qid", $"rank")
    }),

    // IVF-PQ with RESIDUAL encoding — FAISS's default IndexIVFPQ:
    // PQ quantizes v − centroid(cell) instead of v, because residual
    // variance within a cell is far smaller than raw variance, so the
    // same 4×4-bit code budget reconstructs finer. Search decodes
    // centroid + PQ(residual). Same cells/probes as v_knn_ivfpq; only
    // the quantization target changes. zip_with keeps the elementwise
    // subtract/add inside codegen.
    "v_knn_ivfpq_res" -> ((s, dir) => {
      import s.implicits._
      val NPROBE = 2
      val trained = ivfTrained(s, dir)
      val asg = trained.filter($"r" === 1)
        .select($"vec_id", $"v", $"cid", $"cv")
      val resid = asg.select($"vec_id",
        zip_with($"v", $"cv", (a, b) => a - b).as("v"))
      val dec = pqDecode(s, resid)
      val cells = asg
        .join(dec, Seq("vec_id"))
        .select($"vec_id".as("nid"), $"cid".as("cell"),
          zip_with($"cv", $"dq", (a, b) => a + b).as("dq"))
        .withColumn("dn", sqrt(dot($"dq", $"dq")))
      val probes = trained.filter($"vec_id" < 20 && $"r" <= NPROBE)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"norm".as("qn"),
          $"cid".as("cell"))
      val scored = probes.join(cells, Seq("cell")).filter($"qid" =!= $"nid")
        .withColumn("sim", dot($"qv", $"dq") / ($"qn" * $"dn"))
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"qid", $"rank".cast("long").as("rank"), $"nid",
          round($"sim", 9).as("sim"))
        .orderBy($"qid", $"rank")
    }),

    // embedding near-dup detection: cosine ≥ 0.999 pairs among
    // (label, sign-signature-bucket) candidates. The bucket key shards
    // each label's candidate space ~256 ways, so the pair join is
    // per-bucket instead of a label-wide product — the same scale path
    // v_knn_lsh uses (at 100 TB the quadratic all-pairs join is the
    // one thing this query must never do). MULTI-PROBE closes the
    // recall hole of pure sign bucketing: a near-dup pair whose
    // near-zero dims straddle zero lands in different primary buckets,
    // so each vector also probes every sign-flip combination of its
    // (≤3 lowest-index) near-zero dims — ≤8 probe buckets per vector,
    // a constant fan-out, not a product.
    "dedup_embedding" -> ((s, dir) => {
      import s.implicits._
      dedupEmbedding(t(s, dir, "embeddings")
        .select($"vec_id", $"label", asDouble($"embedding").as("v")))
    }),

    // Max-inner-product search (the recommender retrieval objective:
    // UNNORMALIZED dot, FAISS's IP metric — long vectors win, unlike
    // cosine). Brute kernel over the query subset as the exactness
    // anchor; the scale path is the standard MIPS→cosine reduction
    // (augment each vector with sqrt(M²−‖v‖²) so inner product
    // becomes cosine, then the LSH/IVF family applies unchanged).
    "v_mips" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val q = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"v".as("qv"))
      val c = e.select($"vec_id".as("nid"), $"v".as("nv"))
      val scored = q.join(c, $"qid" =!= $"nid")
        .withColumn("ip", dot($"qv", $"nv"))
      val w = Window.partitionBy($"qid").orderBy($"ip".desc, $"nid")
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 5)
        .select($"qid", $"rank".cast("long").as("rank"), $"nid",
          round($"ip", 9).as("ip"))
        .orderBy($"qid", $"rank")
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    // deduplication = k-means-cluster the embedding space, then drop
    // near-duplicates WITHIN each cluster only — the clustering bounds
    // the pairwise cosine work to cell-local joins, which is the whole
    // point of the method at scale (candidate pairs grow with
    // Σ|cell|², never corpus²). Reuses the deterministic integer-micro
    // Lloyd trainer the IVF family shares, so the DuckDB oracle
    // replays training bit-for-bit. Keep rule: a vector is dropped iff
    // a LOWER-id member of its cell sits within cosine ≥ τ (greedy
    // min-id keeper, the same deterministic convention as dedup_exact).
    // τ = 0.4 is the aggressive end of the paper's threshold sweep —
    // this corpus has no engineered near-identical pairs, so a
    // production-τ run would be all-keep.
    "v_semdedup" -> ((s, dir) => {
      import s.implicits._
      val cells = ivfTrained(s, dir).filter($"r" === 1)
        .select($"vec_id", $"v", $"norm", $"cid")
      val a = cells.select($"cid", $"vec_id".as("da"), $"v".as("va"),
        $"norm".as("na"))
      val b = cells.select($"cid", $"vec_id".as("db"), $"v".as("vb"),
        $"norm".as("nb"))
      val dups = a.join(b, Seq("cid"))
        .filter($"da" < $"db")
        .withColumn("sim", dot($"va", $"vb") / ($"na" * $"nb"))
        .filter($"sim" >= 0.4)
        .select($"db".as("vec_id")).distinct()
      cells.select($"vec_id", $"cid")
        .join(dups.withColumn("dup", lit(1)), Seq("vec_id"), "left_outer")
        .select($"vec_id", $"cid", $"dup".isNull.as("keep"))
        .orderBy($"vec_id")
    }),

    // per-cluster stats: exact micro-norm sums (integer arithmetic).
    "v_cluster_stats" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
        .select($"label", asDouble($"embedding").as("v"))
        .withColumn("norm", sqrt(dot($"v", $"v")))
      e.groupBy($"label")
        .agg(count(lit(1)).as("n"),
          round(min($"norm"), 9).as("min_norm"),
          round(max($"norm"), 9).as("max_norm"),
          (sum(round($"norm" * 1e6, 0).cast("long")) / 1e6).as("sum_norm"))
        .orderBy($"label")
    }))

  /** the unrolled deterministic 2-iteration Lloyd k-means (DuckDB twin
    * of [[ivfTrained]]); ends at `assigned(vec_id, v, norm, cid, r)` —
    * shared verbatim by every IVF-family oracle. */
  private val kmeansSql: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) norm FROM e),
         c0 AS (SELECT CAST(vec_id AS BIGINT) cid, v cv FROM n
           ORDER BY vec_id LIMIT 16),
         c0n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) cn FROM c0),
         a1 AS (SELECT vec_id, v, cid FROM (
             SELECT a.vec_id, a.v, c.cid,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY list_dot_product(a.v, c.cv) / (a.norm * c.cn) DESC,
                   c.cid) r
             FROM n a CROSS JOIN c0n c) WHERE r = 1),
         m1 AS (SELECT cid, pos,
             floor(SUM(CAST(round(val*1e6) AS BIGINT)) * 1.0
               / COUNT(*)) / 1e6 AS m
           FROM (SELECT cid, unnest(range(len(v))) AS pos,
                   unnest(v) AS val FROM a1)
           GROUP BY cid, pos),
         c1 AS (SELECT c0.cid, COALESCE(mm.cv2, c0.cv) cv FROM c0
           LEFT JOIN (SELECT cid, list(m ORDER BY pos) cv2 FROM m1
             GROUP BY cid) mm USING (cid)),
         c1n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) cn FROM c1),
         a2 AS (SELECT vec_id, v, cid FROM (
             SELECT a.vec_id, a.v, c.cid,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY list_dot_product(a.v, c.cv) / (a.norm * c.cn) DESC,
                   c.cid) r
             FROM n a CROSS JOIN c1n c) WHERE r = 1),
         m2 AS (SELECT cid, pos,
             floor(SUM(CAST(round(val*1e6) AS BIGINT)) * 1.0
               / COUNT(*)) / 1e6 AS m
           FROM (SELECT cid, unnest(range(len(v))) AS pos,
                   unnest(v) AS val FROM a2)
           GROUP BY cid, pos),
         c2 AS (SELECT c1.cid, COALESCE(mm.cv2, c1.cv) cv FROM c1
           LEFT JOIN (SELECT cid, list(m ORDER BY pos) cv2 FROM m2
             GROUP BY cid) mm USING (cid)),
         c2n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) cn FROM c2),
         assigned AS (SELECT a.vec_id, a.v, a.norm, c.cid,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY list_dot_product(a.v, c.cv) / (a.norm * c.cn) DESC,
                 c.cid) r
           FROM n a CROSS JOIN c2n c)"""

  /** one unrolled beam round of the v_knn_graph search: frontier =
    * top-B of the scored set, expand its out-edges, score the new
    * candidates, merge (sim is deterministic per (qid, nid), so the
    * merge is a plain GROUP BY) */
  private def graphHopSql(i: Int): String = {
    val p = i - 1
    s"""f$i AS (SELECT qid, nid FROM (SELECT qid, nid, row_number() OVER
             (PARTITION BY qid ORDER BY sim DESC, nid) fr FROM s$p)
           WHERE fr <= 4),
         x$i AS (SELECT DISTINCT f.qid, g.dst nid
           FROM f$i f JOIN graph g ON f.nid = g.src),
         s$i AS (SELECT qid, nid, max(sim) sim FROM (
             SELECT qid, nid, sim FROM s$p
             UNION ALL
             SELECT x.qid, x.nid,
               list_dot_product(p.qv, c.v) / (p.qn * c.norm) sim
             FROM x$i x JOIN probes p ON p.qid = x.qid
               JOIN vecs c ON c.vec_id = x.nid) GROUP BY qid, nid),"""
  }

  private val vKnnGraphSql: String =
    s"""WITH ${kmeansSql},
         vecs AS (SELECT vec_id, v, norm FROM assigned WHERE r = 1),
         mem AS (SELECT vec_id, cid FROM assigned WHERE r <= 2),
         cand AS (SELECT DISTINCT a.vec_id src, b.vec_id dst
           FROM mem a JOIN mem b ON a.cid = b.cid AND a.vec_id != b.vec_id),
         g0 AS (SELECT c.src, c.dst,
             list_dot_product(x.v, y.v) / (x.norm * y.norm) esim
           FROM cand c JOIN vecs x ON x.vec_id = c.src
             JOIN vecs y ON y.vec_id = c.dst),
         graph AS (SELECT src, dst FROM (SELECT src, dst, row_number() OVER
             (PARTITION BY src ORDER BY esim DESC, dst) er FROM g0)
           WHERE er <= 8),
         probes AS (SELECT vec_id qid, v qv, norm qn FROM vecs
           WHERE vec_id < 20),
         entry AS (SELECT min(vec_id) nid FROM assigned WHERE r = 1
           GROUP BY cid),
         s0 AS (SELECT p.qid, e.nid,
             list_dot_product(p.qv, c.v) / (p.qn * c.norm) sim
           FROM probes p CROSS JOIN entry e JOIN vecs c ON c.vec_id = e.nid),
         ${graphHopSql(1)}
         ${graphHopSql(2)}
         ${graphHopSql(3)}
         ranked AS (SELECT qid, nid, sim, row_number() OVER
             (PARTITION BY qid ORDER BY sim DESC, nid) rank
           FROM s3 WHERE qid != nid)
         SELECT qid, rank, nid, round(sim, 9) AS sim FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank"""

  val oracles: Map[String, String] = Map(
    "v_knn_graph" -> vKnnGraphSql,
    "v_norm" ->
      """SELECT vec_id, len(v) AS dim,
         round(sqrt(list_dot_product(v, v)), 9) AS norm
         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
         ORDER BY vec_id""",
    "v_knn_brute" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         scored AS (SELECT q.vec_id qid, c.vec_id nid,
             list_dot_product(q.v, c.v) /
             (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) sim
           FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id != c.vec_id),
         ranked AS (SELECT qid, nid, sim, row_number() OVER
             (PARTITION BY qid ORDER BY sim DESC, nid) rank FROM scored)
         SELECT qid, rank, nid, round(sim, 9) AS sim FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank""",
    "v_knn_filtered" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v, label
             FROM embeddings),
         scored AS (SELECT q.vec_id AS qid, q.label AS label, c.vec_id AS nid,
             list_dot_product(q.v, c.v) /
             (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) sim
           FROM e q JOIN e c ON q.label = c.label
             AND q.vec_id < 20 AND q.vec_id != c.vec_id),
         ranked AS (SELECT qid, label, nid, sim, row_number() OVER
             (PARTITION BY qid ORDER BY sim DESC, nid) rank FROM scored)
         SELECT qid, label, rank, nid, round(sim, 9) AS sim FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank""",
    "v_recall_eval" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         b AS (SELECT vec_id, v,
             (SELECT coalesce(sum(CASE WHEN v[i+1] > 0
                 THEN CAST(power(2, i) AS BIGINT) ELSE 0 END), 0)
              FROM range(8) t(i)) bucket FROM e),
         brute AS (SELECT qid, nid FROM (
           SELECT q.vec_id qid, c.vec_id nid,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_dot_product(q.v, c.v) /
               (sqrt(list_dot_product(q.v, q.v)) *
                sqrt(list_dot_product(c.v, c.v))) DESC, c.vec_id) rank
           FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id != c.vec_id)
           WHERE rank <= 5),
         lsh AS (SELECT qid, nid FROM (
           SELECT q.vec_id qid, c.vec_id nid,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_dot_product(q.v, c.v) /
               (sqrt(list_dot_product(q.v, q.v)) *
                sqrt(list_dot_product(c.v, c.v))) DESC, c.vec_id) rank
           FROM b q JOIN b c ON q.bucket = c.bucket
             AND q.vec_id < 20 AND q.vec_id != c.vec_id)
           WHERE rank <= 5),
         hits AS (SELECT brute.qid, count(*)::BIGINT n_hits
           FROM brute JOIN lsh ON brute.qid = lsh.qid
             AND brute.nid = lsh.nid
           GROUP BY 1)
         SELECT q.vec_id AS qid, coalesce(h.n_hits, 0) AS n_hits,
           coalesce(h.n_hits, 0) / 5.0 AS recall
         FROM (SELECT vec_id FROM e WHERE vec_id < 20) q
         LEFT JOIN hits h ON q.vec_id = h.qid
         ORDER BY qid""",
    "v_knn_bq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         ham AS (SELECT q.vec_id qid, c.vec_id nid,
             CAST(len(list_filter(range(1, 65),
               i -> (q.v[i] > 0) <> (c.v[i] > 0))) AS BIGINT) hamming
           FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id != c.vec_id),
         cand AS (SELECT qid, nid, hamming FROM (
             SELECT qid, nid, hamming, row_number() OVER
               (PARTITION BY qid ORDER BY hamming, nid) hrank FROM ham)
           WHERE hrank <= 50),
         scored AS (SELECT qid, nid, hamming,
             list_dot_product(q.v, c.v) /
             (sqrt(list_dot_product(q.v, q.v)) *
              sqrt(list_dot_product(c.v, c.v))) sim
           FROM cand JOIN e q ON q.vec_id = cand.qid
             JOIN e c ON c.vec_id = cand.nid),
         ranked AS (SELECT qid, nid, hamming, sim, row_number() OVER
             (PARTITION BY qid ORDER BY sim DESC, nid) rank FROM scored)
         SELECT qid, rank, nid, hamming, round(sim, 9) AS sim
         FROM ranked WHERE rank <= 5 ORDER BY qid, rank""",
    "v_knn_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         b AS (SELECT vec_id, v,
             (SELECT coalesce(sum(CASE WHEN v[i+1] > 0
                 THEN CAST(power(2, i) AS BIGINT) ELSE 0 END), 0)
              FROM range(8) t(i)) bucket FROM e),
         scored AS (SELECT q.vec_id qid, c.vec_id nid,
             list_dot_product(q.v, c.v) /
             (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) sim
           FROM b q JOIN b c ON q.bucket = c.bucket
             AND q.vec_id < 50 AND q.vec_id != c.vec_id),
         ranked AS (SELECT qid, nid, sim, row_number() OVER
             (PARTITION BY qid ORDER BY sim DESC, nid) rank FROM scored)
         SELECT qid, rank, nid, round(sim, 9) AS sim FROM ranked
         WHERE rank <= 3 ORDER BY qid, rank""",
    "v_range_search" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         b AS (SELECT vec_id, v,
             (SELECT coalesce(sum(CASE WHEN v[i+1] > 0
                 THEN CAST(power(2, i) AS BIGINT) ELSE 0 END), 0)
              FROM range(8) t(i)) bucket FROM e),
         scored AS (SELECT q.vec_id qid, c.vec_id nid,
             list_dot_product(q.v, c.v) /
             (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) sim
           FROM b q JOIN b c ON q.bucket = c.bucket
             AND q.vec_id < 50 AND q.vec_id != c.vec_id)
         SELECT qid, nid, round(sim, 9) AS sim FROM scored
         WHERE sim >= 0.2 ORDER BY qid, nid""",
    "v_knn_sq8" ->
      """WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) v
           FROM embeddings),
         dims AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS i,
             unnest(v) AS x FROM e),
         cb AS (SELECT i, min(x) mn, max(x) mx FROM dims GROUP BY i),
         dq AS (SELECT vec_id, array_agg(
             mn + (CASE WHEN mx = mn THEN 0
               ELSE CAST(round((x - mn)*255.0/(mx - mn)) AS BIGINT) END)
               * (mx - mn)/255.0 ORDER BY i) dv
           FROM dims JOIN cb USING (i) GROUP BY vec_id),
         n AS (SELECT vec_id, dv, sqrt(list_dot_product(dv, dv)) nrm FROM dq),
         scored AS (SELECT q.vec_id qid, c.vec_id nid,
             list_dot_product(q.dv, c.dv)/(q.nrm*c.nrm) sim
           FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id != c.vec_id),
         ranked AS (SELECT qid, nid, sim, row_number() OVER
             (PARTITION BY qid ORDER BY sim DESC, nid) rank FROM scored)
         SELECT qid, rank, nid, round(sim, 9) AS sim FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank""",
    "v_knn_ivfpq" ->
      s"""WITH ${kmeansSql},
         pq0 AS (SELECT m, CAST(s.vec_id AS BIGINT) code,
             list_slice(s.v, m*16+1, m*16+16) cv
           FROM (SELECT vec_id, v FROM n ORDER BY vec_id LIMIT 16) s
           CROSS JOIN range(4) t(m)),
         psub AS (SELECT vec_id, m, list_slice(v, m*16+1, m*16+16) sv
           FROM n CROSS JOIN range(4) t(m)),
         pa0 AS (SELECT vec_id, m, sv, code,
             row_number() OVER (PARTITION BY vec_id, m
               ORDER BY list_dot_product(sv, sv)
                 - 2 * list_dot_product(sv, cv)
                 + list_dot_product(cv, cv) ASC, code) r
           FROM psub JOIN pq0 USING (m)),
         pmu AS (SELECT m, code, pos,
             floor(SUM(CAST(round(val*1e6) AS BIGINT)) * 1.0
               / COUNT(*)) / 1e6 AS mu
           FROM (SELECT m, code, unnest(range(len(sv))) AS pos,
                   unnest(sv) AS val FROM pa0 WHERE r = 1)
           GROUP BY m, code, pos),
         prcb AS (SELECT pq0.m, pq0.code, COALESCE(mm.cv2, pq0.cv) cv
           FROM pq0 LEFT JOIN (SELECT m, code, list(mu ORDER BY pos) cv2
             FROM pmu GROUP BY m, code) mm USING (m, code)),
         pa1 AS (SELECT vec_id, m, cv,
             row_number() OVER (PARTITION BY vec_id, m
               ORDER BY list_dot_product(sv, sv)
                 - 2 * list_dot_product(sv, cv)
                 + list_dot_product(cv, cv) ASC, code) r
           FROM psub JOIN prcb USING (m)),
         pdec AS (SELECT vec_id, flatten(list(cv ORDER BY m)) dq
           FROM pa1 WHERE r = 1 GROUP BY vec_id),
         pdecn AS (SELECT vec_id, dq, sqrt(list_dot_product(dq, dq)) dn
           FROM pdec),
         cells AS (SELECT a.vec_id nid, d.dq, d.dn, a.cid cell
           FROM assigned a JOIN pdecn d USING (vec_id) WHERE a.r = 1),
         probes AS (SELECT vec_id qid, v qv, norm qn, cid cell
           FROM assigned WHERE vec_id < 20 AND r <= 2),
         scored AS (SELECT p.qid, c.nid,
             list_dot_product(p.qv, c.dq) / (p.qn * c.dn) sim
           FROM probes p JOIN cells c ON p.cell = c.cell AND p.qid != c.nid),
         ranked AS (SELECT qid, nid, sim, row_number() OVER
             (PARTITION BY qid ORDER BY sim DESC, nid) rank FROM scored)
         SELECT qid, rank, nid, round(sim, 9) AS sim FROM ranked
         WHERE rank <= 3 ORDER BY qid, rank""",
    "v_knn_ivfpq_res" ->
      s"""WITH ${kmeansSql},
         asg AS (SELECT a.vec_id, a.v, a.cid, c.cv
           FROM assigned a JOIN c2n c USING (cid) WHERE a.r = 1),
         res AS (SELECT vec_id,
             list_transform(range(1, len(v)+1), i -> v[i] - cv[i]) rv
           FROM asg),
         pq0 AS (SELECT m, CAST(s.vec_id AS BIGINT) code,
             list_slice(s.rv, m*16+1, m*16+16) cv
           FROM (SELECT vec_id, rv FROM res ORDER BY vec_id LIMIT 16) s
           CROSS JOIN range(4) t(m)),
         psub AS (SELECT vec_id, m, list_slice(rv, m*16+1, m*16+16) sv
           FROM res CROSS JOIN range(4) t(m)),
         pa0 AS (SELECT vec_id, m, sv, code,
             row_number() OVER (PARTITION BY vec_id, m
               ORDER BY list_dot_product(sv, sv)
                 - 2 * list_dot_product(sv, cv)
                 + list_dot_product(cv, cv) ASC, code) r
           FROM psub JOIN pq0 USING (m)),
         pmu AS (SELECT m, code, pos,
             floor(SUM(CAST(round(val*1e6) AS BIGINT)) * 1.0
               / COUNT(*)) / 1e6 AS mu
           FROM (SELECT m, code, unnest(range(len(sv))) AS pos,
                   unnest(sv) AS val FROM pa0 WHERE r = 1)
           GROUP BY m, code, pos),
         prcb AS (SELECT pq0.m, pq0.code, COALESCE(mm.cv2, pq0.cv) cv
           FROM pq0 LEFT JOIN (SELECT m, code, list(mu ORDER BY pos) cv2
             FROM pmu GROUP BY m, code) mm USING (m, code)),
         pa1 AS (SELECT vec_id, m, cv,
             row_number() OVER (PARTITION BY vec_id, m
               ORDER BY list_dot_product(sv, sv)
                 - 2 * list_dot_product(sv, cv)
                 + list_dot_product(cv, cv) ASC, code) r
           FROM psub JOIN prcb USING (m)),
         pdec AS (SELECT vec_id, flatten(list(cv ORDER BY m)) dq
           FROM pa1 WHERE r = 1 GROUP BY vec_id),
         recon AS (SELECT d.vec_id,
             list_transform(range(1, len(a.cv)+1), i -> a.cv[i] + d.dq[i]) dq
           FROM pdec d JOIN asg a USING (vec_id)),
         pdecn AS (SELECT vec_id, dq, sqrt(list_dot_product(dq, dq)) dn
           FROM recon),
         cells AS (SELECT a.vec_id nid, d.dq, d.dn, a.cid cell
           FROM assigned a JOIN pdecn d USING (vec_id) WHERE a.r = 1),
         probes AS (SELECT vec_id qid, v qv, norm qn, cid cell
           FROM assigned WHERE vec_id < 20 AND r <= 2),
         scored AS (SELECT p.qid, c.nid,
             list_dot_product(p.qv, c.dq) / (p.qn * c.dn) sim
           FROM probes p JOIN cells c ON p.cell = c.cell AND p.qid != c.nid),
         ranked AS (SELECT qid, nid, sim, row_number() OVER
             (PARTITION BY qid ORDER BY sim DESC, nid) rank FROM scored)
         SELECT qid, rank, nid, round(sim, 9) AS sim FROM ranked
         WHERE rank <= 3 ORDER BY qid, rank""",
    "v_knn_ivf" ->
      s"""WITH ${kmeansSql},
         cells AS (SELECT vec_id nid, v nv, norm nn, cid cell
           FROM assigned WHERE r = 1),
         probes AS (SELECT vec_id qid, v qv, norm qn, cid cell
           FROM assigned WHERE vec_id < 30 AND r <= 2),
         scored AS (SELECT p.qid, c.nid,
             list_dot_product(p.qv, c.nv) / (p.qn * c.nn) sim
           FROM probes p JOIN cells c ON p.cell = c.cell AND p.qid != c.nid),
         ranked AS (SELECT qid, nid, sim, row_number() OVER
             (PARTITION BY qid ORDER BY sim DESC, nid) rank FROM scored)
         SELECT qid, rank, nid, round(sim, 9) AS sim FROM ranked
         WHERE rank <= 3 ORDER BY qid, rank""",
    "v_mips" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         scored AS (SELECT q.vec_id qid, c.vec_id nid,
             list_dot_product(q.v, c.v) ip
           FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id != c.vec_id),
         ranked AS (SELECT qid, nid, ip, row_number() OVER
             (PARTITION BY qid ORDER BY ip DESC, nid) rank FROM scored)
         SELECT qid, rank, nid, round(ip, 9) AS ip FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank""",
    "v_semdedup" ->
      s"""WITH ${kmeansSql},
         cells AS (SELECT vec_id nid, v nv, norm nn, cid cell
           FROM assigned WHERE r = 1),
         pairs AS (SELECT a.nid da, b.nid db,
             list_dot_product(a.nv, b.nv) / (a.nn * b.nn) sim
           FROM cells a JOIN cells b
             ON a.cell = b.cell AND a.nid < b.nid),
         dups AS (SELECT DISTINCT db AS vec_id FROM pairs WHERE sim >= 0.4)
         SELECT c.nid AS vec_id, c.cell AS cid, d.vec_id IS NULL AS keep
         FROM cells c LEFT JOIN dups d ON c.nid = d.vec_id
         ORDER BY vec_id""",
    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v
           FROM embeddings),
         b AS (SELECT vec_id, label, v,
             (SELECT coalesce(sum(CASE WHEN v[i+1] > 0
                 THEN CAST(power(2, i) AS BIGINT) ELSE 0 END), 0)
              FROM range(8) t(i)) bucket,
             list_slice(list_filter(range(8), i -> abs(v[i+1]) < 0.05),
               1, 3) nz
           FROM e),
         p AS (SELECT vec_id, label,
             unnest(list_transform(
               range(CAST(power(2, len(nz)) AS BIGINT)), m ->
                 xor(bucket, coalesce(list_sum(list_transform(
                   range(len(nz)), j ->
                     CASE WHEN (m // CAST(power(2, j) AS BIGINT)) % 2 = 1
                       THEN CAST(power(2, nz[j+1]) AS BIGINT)
                       ELSE 0 END)), 0)))) probe
           FROM b),
         cand AS (SELECT DISTINCT
             least(p.vec_id, q.vec_id) da, greatest(p.vec_id, q.vec_id) db
           FROM p JOIN b q ON p.label = q.label AND p.probe = q.bucket
             AND p.vec_id != q.vec_id)
         SELECT c.da, c.db,
           round(list_dot_product(x.v, y.v) /
             (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 9) AS sim
         FROM cand c JOIN e x ON x.vec_id = c.da JOIN e y ON y.vec_id = c.db
         WHERE list_dot_product(x.v, y.v) /
             (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.999
         ORDER BY da, db""",
    "v_cluster_stats" ->
      """SELECT label, COUNT(*) AS n,
         round(min(norm), 9) AS min_norm, round(max(norm), 9) AS max_norm,
         SUM(CAST(round(norm * 1e6) AS BIGINT)) / 1e6 AS sum_norm
         FROM (SELECT label, sqrt(list_dot_product(
             CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) norm
           FROM embeddings)
         GROUP BY label ORDER BY label""")
}
