package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-pipeline text operators over the `documents` table
  * (north-star extensions, SURVEY §7.1 M6): token counting, quality
  * scoring, language-ID, fingerprinting, and the dedup family (exact,
  * n-gram Jaccard, MinHash+LSH, SimHash).
  *
  * Every hash is md5 (bit-identical in Spark and DuckDB), every ratio
  * is a single integer/integer division in double — so each operator
  * has an exact DuckDB oracle despite being "approximate" algorithms:
  * the approximation is deterministic.
  *
  * Scale notes: shingle self-joins carry a document-frequency cap
  * (`DF_CAP`) — stop-shingles that appear in more docs than the cap
  * are dropped from candidate generation on both sides. At test SFs
  * the cap is a no-op; at 100 TB it is what keeps the shuffle bounded
  * (standard stop-shingle removal). MinHash/SimHash banding bounds
  * pair generation the same way LSH does in production.
  */
object TextOps {
  import Relational.t

  private val DF_CAP = 1000

  /** md5("") — the fingerprint of a fully-stripped document. */
  private val md5Empty = "d41d8cd98f00b204e9800998ecf8427e"

  /** whitespace words of a trimmed text — THE tokenization rule every
    * text/corpus operator shares (PackOps included); changing it here
    * changes them all together
    */
  private[queries] def wordsCol: Column = split(trim(col("text")), "\\s+")

  /** word k-gram shingles (docs with <k words have none) */
  private def kShinglesCol(words: Column, k: Int): Column =
    when(size(words) >= k,
      transform(sequence(lit(1), size(words) - (k - 1)),
        i => array_join(slice(words, i, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))

  /** word 3-gram shingles (docs with <3 words have none) */
  private def shinglesCol(words: Column): Column = kShinglesCol(words, 3)

  /** (doc_id, s) distinct shingle table. `words` is materialized as a
    * real column BEFORE the shingle transform — inlining the split()
    * expression into the lambda would re-run the regex once per
    * shingle index (no CSE inside HOF lambdas). Distinctness of
    * (doc_id, s) is PER-DOCUMENT — every shingle of a doc sits in that
    * doc's own array — so `array_distinct` before the explode yields
    * the identical table with ZERO shuffle; the old corpus-wide
    * `.distinct()` exchanged every (doc_id, s) pair across the network
    * to dedup rows a single row's array already could (guide §2.4).
    * At scale the scan's natural split parallelism feeds the explode.
    */
  private def shingleTable(s: SparkSession, dir: String): DataFrame =
    shingleTableOf(t(s, dir, "documents"))

  private[graft] def shingleTableOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", wordsCol.as("w"))
      .select($"doc_id", explode(array_distinct(shinglesCol($"w"))).as("s"))
  }

  /** MinHash(12) band keys → distinct LSH candidate pairs, from a
    * (doc_id, s) shingle table. 4 bands × 3 rows: candidate
    * probability ≈ J³ per band — tuned so the ~0.7 threshold keeps
    * recall while random-pair collisions (high baseline vocabulary
    * overlap) stay rare. Carter-Wegman double hashing: ONE md5 split
    * into two 32-bit halves (a, b) gives the whole family as
    * h_i = a + i·b. Shared by the batch dedup_minhash_lsh pipeline
    * and (as the parity target) the streaming bander's spec.
    */
  private[graft] def lshCandidates(sh: DataFrame): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    val h = md5($"s")
    val ha = conv(substring(h, 1, 8), 16, 10).cast("long")
    val hb = conv(substring(h, 9, 8), 16, 10).cast("long")
    val hashed = sh.select(($"doc_id" +:
      (0 until 12).map(i => (ha + lit(i.toLong) * hb).as(s"h$i"))): _*)
    val mins = (0 until 12).map(i => min(col(s"h$i")).as(s"h$i"))
    val sig = hashed.groupBy($"doc_id")
      .agg(mins.head, mins.tail: _*)
      .select($"doc_id",
        array((0 until 12).map(i => col(s"h$i")): _*).as("hs"))
    val bands = sig
      .select($"doc_id", explode(sequence(lit(0), lit(3))).as("b"), $"hs")
      .select($"doc_id", $"b",
        md5(concat_ws("|",
          element_at($"hs", $"b" * 3 + 1).cast("string"),
          element_at($"hs", $"b" * 3 + 2).cast("string"),
          element_at($"hs", $"b" * 3 + 3).cast("string"))).as("bkey"))
    // codegen self-join pair generation (r16: the bucket-local
    // groupBy(bkey)+index-HOF-explode recipe measured ~1.25x worse
    // here — near-dup clusters concentrate into shared band buckets
    // and the O(m²) pair explode runs through the interpreter, where
    // the self-join's C(m,2) runs in whole-stage codegen; same
    // finding as shingleInter and dedup_simhash_pairs)
    bands.select($"doc_id".as("da"), $"b", $"bkey")
      .join(bands.select($"doc_id".as("db"), $"b", $"bkey"),
        Seq("b", "bkey"))
      .filter($"da" < $"db")
      .select($"da", $"db").distinct()
  }

  /** the batch LSH candidate set on the raw corpus — the parity
    * target StreamingSpec holds the streaming bander to
    */
  private[graft] def minhashCandidatesBatch(s: SparkSession,
      dir: String): DataFrame =
    lshCandidates(cappedShingles(shingleTable(s, dir)))

  /** same pipeline over an arbitrary (doc_id, text) frame with an
    * explicit cap — lets specs exercise corpora where the cap bites
    */
  private[graft] def minhashCandidatesBatchOf(docs: DataFrame,
      cap: Int = DF_CAP): DataFrame =
    lshCandidates(cappedShingles(shingleTableOf(docs), cap))

  /** drop stop-shingles above the document-frequency cap. Keyed as an
    * ANTI join against the STOP set (nd > cap), not a semi join
    * against the keep set (nd <= cap): the stop set is the tiny side
    * by construction (at most |instances|/cap members, the heavy
    * hitters), so AQE broadcasts it and the corpus-sized shingle
    * table is filtered map-side instead of paying a second full
    * exchange on s (guide §3.1/§2.4). Same result: s survives iff
    * nd <= cap.
    */
  private def cappedShingles(sh: DataFrame, cap: Int = DF_CAP): DataFrame =
    sh.join(stopShingleSet(sh, cap), Seq("s"), "left_anti")

  /** the shingles ABOVE the document-frequency cap — the stop-shingle
    * set a streaming deployment precomputes on the standing corpus
    * (or maintains as a DF sketch) and feeds to
    * EventStreams.minhashCandidates so batch/stream candidate
    * generation stays in parity on corpora where the cap bites
    */
  private[graft] def stopShingleSet(sh: DataFrame,
      cap: Int = DF_CAP): DataFrame =
    sh.groupBy("s").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > cap).select("s")

  private val shingleSqlCte =
    s"""words AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') w
          FROM documents),
        sh0 AS (SELECT DISTINCT doc_id,
            unnest(list_transform(range(1, greatest(len(w)-1, 1)),
              i -> array_to_string(list_slice(w, i, i+2), ' '))) AS s
          FROM words WHERE len(w) >= 3),
        keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= $DF_CAP),
        sh AS (SELECT doc_id, s FROM sh0 JOIN keep USING (s)),
        cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1)"""

  /** drops every result memo (`Memo.clearResults`). It stays under
    * this name because the service benchmark's registry workload
    * calls it before each entry it times. */
  private[graft] def clearMemos(): Unit = graft.Memo.clearResults()

  /** the exploded distinct-shingle table, cached UNCAPPED, plus the
    * DF-capped view over it: the stop-set pass itself fills the cache
    * (one text-processing pass over the corpus — the old shape ran
    * split+shingles TWICE from parquet, once for the stop-set groupBy
    * and once to fill the capped cache, before any consumer ran; r16,
    * guide §1.2). The stop set is checkpointed once (tiny by
    * construction: ≤ |instances|/cap heavy hitters — usually empty),
    * so each consumer re-derives the capped view from the cache with
    * one broadcast anti probe, near-free against an empty/tiny build
    * side. (Caching the per-row ARRAY form instead was tried and
    * measured ~12% worse: explode-from-cache per consumer pass costs
    * more than the exploded binary cache reads.)
    */
  private def cappedShingleView(s: SparkSession, dir: String,
      scratch: scala.collection.mutable.Builder[DataFrame, Seq[DataFrame]])
      : DataFrame = {
    import s.implicits._
    val sh0 = shingleTable(s, dir).cache()
    scratch += sh0
    val stop = stopShingleSet(sh0).localCheckpoint()
    sh0.join(broadcast(stop), Seq("s"), "left_anti")
  }

  /** shared-shingle intersection counts `(da, db, i)` plus per-doc
    * shingle counts `(doc_id, n)` over the DF-capped shingle table —
    * the one candidate-join both dedup_ngram_jaccard (symmetric
    * Jaccard) and t_containment (Broder's asymmetric containment)
    * re-rank; a real pipeline computes the intersection once, so it
    * is a result memo like the MinHash pair graph.
    */
  private def shingleInter(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    graft.Memo.result("TextOps.shingleInter", s, dir) {
      import s.implicits._
      val scratch = Seq.newBuilder[DataFrame]
      val sh = cappedShingleView(s, dir, scratch)
      val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      // codegen self-join pair generation (r16: the bucket-local
      // groupBy(s)+index-HOF-explode recipe was tried here and
      // measured ~1.7x WORSE — shared shingles concentrate into hot
      // sharer sets and the O(m²) pair explode runs per element
      // through the interpreter, where the self-join's C(m,2) runs in
      // whole-stage codegen; same finding as dedup_simhash_pairs).
      // m is bounded by DF_CAP either way, so the quadratic term
      // cannot blow up at scale.
      val inter = sh.select($"doc_id".as("da"), $"s")
        .join(sh.select($"doc_id".as("db"), $"s"), Seq("s"))
        .filter($"da" < $"db")
        .groupBy($"da", $"db")
        .agg(count(lit(1)).as("i"))
        .localCheckpoint()
      scratch.result().foreach(_.unpersist())
      (cnt, inter)
    }

  /** verified MinHash+LSH near-dup pairs (da < db, jaccard ≥ 0.7) —
    * shared by dedup_minhash_lsh (the pair list) and dedup_cluster
    * (connected components over it); a real pipeline computes the pair
    * graph once, so the shared result is a result memo. See
    * dedup_minhash_lsh's entry comment for the banding/verify design.
    */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.Memo.result("TextOps.minhashPairs", s, dir) {
      val scratch = Seq.newBuilder[DataFrame]
      val pairs = computeMinhashPairs(s, dir, scratch).localCheckpoint()
      // the checkpoint materialized the result — the helper caches
      // (shingles, candidates) are dead weight from here on
      scratch.result().foreach(_.unpersist())
      pairs
    }

  /** min-id connected-component labels `(id, cluster)` over the
    * verified pair graph (cluster = the component's smallest doc_id).
    * LSH banding bounds the pair graph, so a bounded probe collects up
    * to `cap` edges and runs min-rooted union-find on the driver (the
    * r15/r16 tiny-twin pattern: cypher_proc_analytics, reachable, the
    * v_knn_graph beam) — bit-identical to the distributed fixpoint,
    * which also computes the component-min label (TextOpsSpec pins
    * parity). Past the cap the distributed min-label propagation with
    * pointer doubling runs unchanged: each round takes the min over
    * neighbours' labels AND follows cluster := label(cluster), so
    * convergence is O(log diameter) and the 30-round cap covers
    * diameter 2^30; an unconverged exit throws rather than silently
    * diverging from the oracle's exact closure. localCheckpoint per
    * round truncates lineage.
    */
  private[graft] def clusterLabels(pairs: DataFrame,
      cap: Int = 1 << 20): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val probe = pairs.select($"da", $"db").limit(cap + 1).collect()
    if (probe.length <= cap) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      probe.foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
      parent.keys.toArray.sorted.toSeq.map(k => (k, find(k)))
        .toDF("id", "cluster")
    } else {
      val edges = pairs.select($"da".as("a"), $"db".as("b"))
        .unionByName(pairs.select($"db".as("a"), $"da".as("b")))
        .localCheckpoint()
      var lab = edges.select($"a".as("id")).distinct()
        .withColumn("cluster", $"id").localCheckpoint()
      var changed = 1L
      var rounds = 0
      while (changed > 0 && rounds < 30) {
        val viaNbr = edges
          .join(lab.select($"id".as("b"), $"cluster".as("nc")), Seq("b"))
          .groupBy($"a").agg(min($"nc").as("nc"))
          .select($"a".as("id"), $"nc")
        // the change count rides the checkpoint action itself
        // (Observation metric over the materializing scan) — no
        // second job over the frame
        val obs = new org.apache.spark.sql.Observation()
        val stepped = lab.join(viaNbr, Seq("id"), "left_outer")
          .select($"id", $"cluster".as("old"),
            least($"cluster", coalesce($"nc", $"cluster")).as("cluster"))
          .observe(obs, sum(when($"cluster" =!= $"old", 1L).otherwise(0L))
            .as("changed"))
          .localCheckpoint()
        changed = obs.get.get("changed").flatMap(Option(_))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        if (changed == 0) {
          // neighbour step at fixpoint ⇒ globally converged (any
          // node above its component min has a decreasing edge on
          // the path to it) — skip the doubling hop entirely
          lab = stepped.select($"id", $"cluster")
        } else {
          // pointer doubling: labels are themselves ids in `lab`, so
          // one extra self-join halves the remaining path each round
          val hop = stepped.select($"id".as("c_id"), $"cluster".as("c_lab"))
          val next = stepped.join(hop, stepped("cluster") === hop("c_id"),
              "left_outer")
            .select(stepped("id"),
              least(stepped("cluster"), coalesce($"c_lab", stepped("cluster")))
                .as("cluster"))
            .localCheckpoint()
          lab = next
        }
        rounds += 1
      }
      if (changed > 0) throw new IllegalStateException(
        s"dedup_cluster: label propagation unconverged after $rounds rounds")
      lab.select($"id", $"cluster")
    }
  }

  private def computeMinhashPairs(s: SparkSession, dir: String,
      scratch: scala.collection.mutable.Builder[DataFrame, Seq[DataFrame]])
      : DataFrame = {
    import s.implicits._
    val sh = cappedShingleView(s, dir, scratch)
    val cand = lshCandidates(sh).cache()
    scratch += cand
    // exact-verify only the candidate docs' shingles: the LSH pair
    // set is tiny relative to the corpus, so semi-filtering both
    // sides keeps the verify join from shuffling the full shingle
    // table (at 100 TB that shuffle would dwarf everything else)
    val x = sh.join(broadcast(cand.select($"da".as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select($"doc_id".as("da"), $"s")
    val y = sh.join(broadcast(cand.select($"db".as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select($"doc_id".as("db"), $"s")
    val inter = cand.join(x, Seq("da")).join(y, Seq("db", "s"))
      .groupBy($"da", $"db").agg(count(lit(1)).as("i"))
    // per-doc sizes for the Jaccard denominator: ONE count over the
    // cached shingle table, consumed by both sides. (Counting the
    // candidate-filtered x/y instead was tried in r16 and measured
    // WORSE — it re-runs the semi joins or adds two cache
    // materializations; the full count is one map-side-combined pass
    // over already-cached data and a |docs|-row exchange.)
    val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(cnt.select($"doc_id".as("da"), $"n".as("na")), Seq("da"))
      .join(cnt.select($"doc_id".as("db"), $"n".as("nb")), Seq("db"))
      .withColumn("jaccard", $"i" * 1.0 / ($"na" + $"nb" - $"i"))
      .filter($"jaccard" >= 0.7)
      .select($"da", $"db", $"jaccard")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // token counting: whitespace tokens + alpha-token subset.
    "t_token_count" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", wordsCol.as("w"))
        .select($"doc_id",
          size($"w").as("n_tokens"),
          size(filter($"w", w => w.rlike("^[a-z]+$"))).as("n_alpha"),
          size(array_distinct($"w")).as("n_distinct"))
        .orderBy($"doc_id")
    }),

    // Sliding token-window passage chunking (the RAG / pretraining
    // shard-prep step): window W=64 tokens, stride S=48 (16-token
    // overlap), chunk starts 0, S, 2S, … with the LAST window clipped
    // at the document end so every token is covered exactly once by a
    // non-overlap region. Pure explode shape — chunking is
    // embarrassingly parallel at 100 TB (no shuffle except the
    // presentation sort); the per-chunk md5 fingerprint is what a
    // downstream chunk-level dedup/index keys on. Integer-only chunk
    // arithmetic, so DuckDB replays it exactly.
    "t_chunk" -> ((s, dir) =>
      chunkTable(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // BPE-style pre-tokenizer counting (the GPT-2 pattern, minus the
    // RE2-unsupported lookahead so the oracle's regex engine agrees):
    // contractions, space-prefixed letter/digit/punct runs. Per-row
    // narrow work — no shuffle at all; the average length is an
    // integer char sum with ONE double division.
    "t_tokens_bpe" -> ((s, dir) => {
      import s.implicits._
      val pat = "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+" +
        "| ?[^A-Za-z0-9\\s]+|\\s+"
      t(s, dir, "documents")
        .select($"doc_id", wordsCol.as("w"),
          filter(regexp_extract_all($"text", lit(pat), lit(0)),
            x => !x.rlike("^\\s+$")).as("t"))
        .select($"doc_id",
          size($"w").cast("long").as("n_ws"),
          size($"t").cast("long").as("n_bpe"),
          size(array_distinct($"t")).cast("long").as("n_distinct"),
          when(size($"t") === 0, lit(0.0))
            .otherwise(aggregate($"t", lit(0L),
              (a, x) => a + length(x)).cast("double") / size($"t"))
            .as("avg_len"))
        .orderBy($"doc_id")
    }),

    // Distributed BPE tokenizer TRAINING (Sennrich et al. 2016,
    // arXiv:1508.07909): R=4 merge rounds over the word-FREQUENCY
    // table — |vocab| rows, never the corpus, which is the real
    // trainer shape at 100 TB (count words once, train on the
    // aggregate). Each round = one map-side-partial pair-count
    // shuffle over the vocab + a 1-row argmax collect; the merge then
    // applies per word with the closed-form leftmost-greedy rule:
    // position i merges iff s[i]=pb ∧ s[i-1]=pa ∧ (pa≠pb ∨ the run
    // of pa's ending at i-1 has odd length). That formula IS the
    // sequential BPE fold (a merged symbol pa·pb can never equal pa,
    // so the only chained dependence is the pa=pb run, whose greedy
    // outcome is run-position parity) — with no sequential
    // dependence, so it vectorizes per row. Integer counts and
    // byte-order tie-breaks make every round DuckDB-replayable.
    "t_bpe_train" -> ((s, dir) => {
      import s.implicits._
      bpeMerges(s, dir, rounds = 4)
        .toDF("round", "pa", "pb", "cnt").orderBy($"round")
    }),

    // the apply side of BPE: encode every document with the trained
    // merges (shared with t_bpe_train through the bpeMerges memo — one
    // tokenizer per corpus). Replay rewrites each DISTINCT word once
    // (vocabulary-bounded), then one corpus-sized join + per-doc sum.
    "t_bpe_encode" -> ((s, dir) =>
      bpeEncodeWith(t(s, dir, "documents"),
        bpeMerges(s, dir, rounds = 4).map(m => (m._2, m._3)))),

    // URL canonicalization + duplicate detection — the #1 web-corpus
    // dedup key (Common Crawl dedups on canonical URL before any
    // content hash). The fixture has no URLs, so each doc synthesizes
    // one deterministically from doc_id (the t_pii recipe) covering
    // every rule: uppercase hosts, www. prefixes, default :443
    // ports, trailing slashes, utm_* tracking params (positionally
    // first, middle, last), fragments. Canonicalization = lowercase
    // host − www. − :443 − fragment − utm params − trailing slash;
    // host/path/query are normalized SEPARATELY (no replacement
    // backreferences — their escape syntax differs across engines).
    // Pure per-row regexp work + ONE groupBy on the canonical key.
    "t_url_dedup" -> ((s, dir) => {
      import s.implicits._
      val u = concat(lit("https://"),
        element_at(array(lit("WWW.Example.COM"), lit("cdn.Example.com"),
          lit("news.site.org"), lit("blog.site.org")),
          ($"doc_id" % 4 + 1).cast("int")),
        when($"doc_id" % 5 === 0, lit(":443")).otherwise(lit("")),
        lit("/a/"), ($"doc_id" % 50).cast("string"),
        when($"doc_id" % 2 === 0, lit("/")).otherwise(lit("")),
        when($"doc_id" % 3 === 0,
          concat(lit("?utm_source=x&utm_campaign=y&id="),
            ($"doc_id" % 7).cast("string")))
          .when($"doc_id" % 3 === 1,
            concat(lit("?id="), ($"doc_id" % 7).cast("string")))
          .otherwise(lit("")),
        when($"doc_id" % 11 === 0, lit("#frag")).otherwise(lit("")))
      val host = regexp_replace(regexp_replace(
        lower(regexp_extract(u, "^https://([^/?#]+)", 1)),
        "^www\\.", ""), ":443$", "")
      val path = regexp_replace(
        regexp_extract(u, "^https://[^/?#]+([^?#]*)", 1), "/$", "")
      val q2 = regexp_replace(
        regexp_replace(regexp_extract(u, "\\?([^#]*)", 1),
          "utm_[a-z]+=[^&]*&", ""),
        "&?utm_[a-z]+=[^&]*$", "")
      val canon = t(s, dir, "documents")
        .select($"doc_id",
          concat(lit("https://"), host, path,
            when(q2 =!= "", concat(lit("?"), q2)).otherwise(lit("")))
            .as("canon_url"),
          regexp_extract(host, "([^.]+\\.[^.]+)$", 1).as("domain"))
      val dups = canon.groupBy($"canon_url")
        .agg(count(lit(1)).as("dup_cnt"))
      canon.join(dups, Seq("canon_url"))
        .select($"doc_id", $"canon_url", $"domain", $"dup_cnt",
          ($"dup_cnt" > 1).as("is_dup"))
        .orderBy($"doc_id")
    }),

    // quality scoring: length/diversity ratios.
    "t_quality" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", length($"text").as("n_chars"), wordsCol.as("w"))
        .select($"doc_id", $"n_chars",
          size($"w").as("n_words"),
          (aggregate($"w", lit(0L), (acc, w) => acc + length(w)) * 1.0 /
            size($"w")).as("avg_word_len"),
          (size(array_distinct($"w")) * 1.0 / size($"w")).as("distinct_ratio"))
        .orderBy($"doc_id")
    }),

    // language-ID: stopword-hit argmax heuristic, 'und' when no hits.
    "t_lang_id" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val lex = Seq(
        ("en", "the"), ("en", "and"), ("en", "of"), ("en", "to"), ("en", "in"),
        ("de", "der"), ("de", "die"), ("de", "und"), ("de", "ist"), ("de", "nicht"),
        ("fr", "le"), ("fr", "et"), ("fr", "les"), ("fr", "des"), ("fr", "une"),
        ("es", "el"), ("es", "los"), ("es", "las"), ("es", "una"), ("es", "y"))
        .toDF("lex_lang", "lex_word")
      val toks = t(s, dir, "documents")
        .select($"doc_id", explode(wordsCol).as("w"))
      val scores = toks.join(broadcast(lex), $"w" === $"lex_word")
        .groupBy($"doc_id", $"lex_lang")
        .agg(count(lit(1)).as("hits"))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"hits".desc, $"lex_lang")
      val best = scores.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"doc_id", $"lex_lang".as("pred_lang"), $"hits")
      t(s, dir, "documents").select($"doc_id")
        .join(best, Seq("doc_id"), "left_outer")
        .select($"doc_id", coalesce($"pred_lang", lit("und")).as("pred_lang"),
          coalesce($"hits", lit(0L)).as("hits"))
        .orderBy($"doc_id")
    }),

    // document fingerprint: md5 of whitespace-normalized lowercase text.
    "t_fingerprint" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id",
          md5(regexp_replace(lower(trim($"text")), "\\s+", " ")).as("fp"))
        .orderBy($"doc_id")
    }),

    // PII detection + scrubbing: emails / phone numbers / SSN-shaped
    // tokens counted then replaced with typed placeholders. The
    // fixture corpus has no digits, so matchable PII is SYNTHESIZED
    // deterministically from doc_id (doc_id%2 → an email, %3 → a
    // phone, %5 → an SSN) — the DuckDB oracle builds the identical
    // corpus, so the scrubbed-text hash pins every replacement
    // byte-for-byte. All codegen'd regexp ops, one narrow projection —
    // scales linearly like the other per-doc text ops.
    "t_pii" -> ((s, dir) => {
      import s.implicits._
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
      val ssn = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
      t(s, dir, "documents")
        .withColumn("text2", concat($"text",
          when($"doc_id" % 2 === 0,
            concat(lit(" contact user"), $"doc_id",
              lit("@example.com now"))).otherwise(lit("")),
          when($"doc_id" % 3 === 0,
            concat(lit(" call 555-"),
              lpad(($"doc_id" % 1000).cast("string"), 3, "0"), lit("-"),
              lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when($"doc_id" % 5 === 0,
            concat(lit(" id "),
              lpad(($"doc_id" % 1000).cast("string"), 3, "0"), lit("-"),
              lpad(($"doc_id" % 100).cast("string"), 2, "0"), lit("-"),
              lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))))
        .select($"doc_id",
          regexp_count($"text2", lit(email)).cast("long").as("n_emails"),
          regexp_count($"text2", lit(phone)).cast("long").as("n_phones"),
          regexp_count($"text2", lit(ssn)).cast("long").as("n_ssn"),
          md5(regexp_replace(regexp_replace(regexp_replace($"text2",
            email, "<EMAIL>"), ssn, "<SSN>"), phone, "<PHONE>"))
            .as("scrubbed_fp"))
        .orderBy($"doc_id")
    }),

    // Benchmark decontamination (Brown et al. 2020, appendix C): a
    // training document is contaminated when its word n-grams collide
    // with the eval corpus. The "benchmark" here is the deterministic
    // doc_id % 50 = 0 slice; overlap = the fraction of a train doc's
    // DISTINCT 3-gram shingles that appear anywhere in the benchmark.
    // Scale: a real eval corpus is tiny next to 100 TB of training
    // text — its distinct-shingle set broadcasts, so the train side
    // pays NO join shuffle; the per-doc counts reuse the shingle
    // table's doc_id partitioning (one narrow aggregate).
    "t_decontaminate" -> ((s, dir) => {
      import s.implicits._
      // per-doc distinct shingles live in one row's array, so the
      // per-doc total is size(shs) computed per-row — the old
      // groupBy(doc_id) total + its join back shuffled the whole
      // train shingle table to learn a number each row already knows
      // (r16, guide §2.4). The base is cached: three consumers read
      // it, and the cache replaces the materialization point the old
      // shape got for free from its distinct-exchange reuse — same
      // bytes, one array row per doc instead of exploded pairs.
      val base = graft.Scratch.track(
        t(s, dir, "documents")
          .select($"doc_id", wordsCol.as("w"))
          .select($"doc_id", array_distinct(shinglesCol($"w")).as("shs"))
          .cache())
      val bench = base.filter($"doc_id" % 50 === 0)
        .select(explode($"shs").as("s")).distinct()
      val train = base.filter($"doc_id" % 50 =!= 0)
      val hits = train.select($"doc_id", explode($"shs").as("s"))
        .join(broadcast(bench), Seq("s"), "left_semi")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
      train.select($"doc_id", size($"shs").cast("long").as("n_shingles"))
        .join(hits, Seq("doc_id"), "left_outer")
        .select($"doc_id",
          $"n_shingles",
          coalesce($"n_hits", lit(0L)).as("n_hits"),
          coalesce($"n_hits" * 1.0 / $"n_shingles", lit(0.0)).as("overlap"),
          coalesce($"n_hits" * 1.0 / $"n_shingles" >= 0.5, lit(false))
            .as("contaminated"))
        .orderBy($"doc_id")
    }),

    // CCNet-style line-level boilerplate removal: hash every "line",
    // count how many DISTINCT docs each line appears in, and strip
    // lines shared by >= 3 docs (navigation chrome, cookie banners,
    // boilerplate headers — the things that repeat across a crawl).
    // The fixture corpus has no newlines, so the "line" unit is a
    // deterministic 3-word segmentation (same synthesize-the-structure
    // approach as t_pii); the plumbing — segment, hash, corpus-wide
    // document-frequency, broadcast anti-join, in-order reassembly —
    // is exactly the CCNet paragraph-dedup shape. Scale: the
    // boilerplate set is small by construction (only segments with
    // df >= 3 distinct docs), so it BROADCASTS to the anti-join; the
    // segment table shuffles once for the df count and once per-doc
    // for reassembly. kept_fp pins the reassembled text byte-for-byte.
    "t_line_dedup" -> ((s, dir) => {
      import s.implicits._
      // per-doc segment structure computes per-row: n_segs is
      // size(segs) (the old groupBy(doc_id) total + join re-shuffled
      // every segment to learn it), and the document-frequency count
      // feeds from per-row DISTINCT segments, so plain count(*) IS
      // the distinct doc count — the old countDistinct planned the
      // two-exchange distinct-aggregate (r16, guide §2.4).
      val base = graft.Scratch.track(
        t(s, dir, "documents")
          .select($"doc_id", wordsCol.as("w"))
          .select($"doc_id", transform(
            sequence(lit(0),
              floor((size($"w") + lit(2)) / lit(3)).cast("int") - 1),
            i => array_join(slice($"w", i * 3 + 1, lit(3)), " "))
            .as("segs"))
          .cache())
      val boiler = base.select(explode(array_distinct($"segs")).as("seg"))
        .groupBy($"seg").agg(count(lit(1)).as("df"))
        .filter($"df" >= 3).select($"seg")
      val kept = base.select($"doc_id", posexplode($"segs"))
        .toDF("doc_id", "idx", "seg")
        .join(broadcast(boiler), Seq("seg"), "left_anti")
      val keptAgg = kept.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(
            transform(sort_array(collect_list(struct($"idx", $"seg"))),
              x => x("seg")), " ")).as("kept_fp"))
      base.select($"doc_id", size($"segs").cast("long").as("n_segs"))
        .join(keptAgg, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"n_segs",
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          (($"n_segs" - coalesce($"n_kept", lit(0L))) * 1.0 / $"n_segs")
            .as("removed_frac"),
          coalesce($"kept_fp", lit(md5Empty)).as("kept_fp"))
        .orderBy($"doc_id")
    }),

    // DSIR-style importance weights (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): hashed word-
    // bigram features, importance weight = how much more the doc's
    // features look like the TARGET distribution (lang='en' docs)
    // than the RAW corpus. Log-free integer-micro variant so the
    // oracle replays it exactly: per-feature likelihood ratio
    // (ct+1)(Nr+B) · 1e6 div (cr+1)(Nt+B) as a BIGINT, per-doc weight
    // = Σ count(f)·ratio(f) — the approximation (ratios, not
    // log-ratios) is deterministic, like the integer-micro Lloyd.
    // Shape: the feature table is B=256 rows and BROADCASTS; the only
    // real shuffle is the per-(doc, feature) count — the 100 TB plan.
    "t_dsir_weights" -> ((s, dir) => {
      import s.implicits._
      val bCount = 256
      // per-doc feature counts compute per-row: hash each bigram to
      // its bucket inside the row's own array, sort, fold run lengths
      // — the old groupBy(doc_id, f) shuffled one row per bigram
      // OCCURRENCE to learn ≤256 numbers per doc. The global stats
      // aggregate the per-(doc, f) counts (≤257 rows per doc,
      // map-side combined), and the corpus totals derive from `raw`
      // (256 rows) instead of a third corpus pass (r16, §2.3/§2.4).
      val fcs = t(s, dir, "documents")
        .select($"doc_id", $"lang", wordsCol.as("w"))
        .filter(size($"w") >= 2)
        .select($"doc_id", $"lang", sort_array(
          transform(sequence(lit(1), size($"w") - 1),
            i => conv(substring(md5(
              array_join(slice($"w", i, lit(2)), " ")), 1, 8), 16, 10)
              .cast("long") % bCount)).as("fs"))
        .withColumn("bnd", filter(sequence(lit(1), size($"fs")),
          i => i === 1 ||
            element_at($"fs", i) =!= element_at($"fs", i - 1)))
        .select($"doc_id", $"lang",
          explode(transform(sequence(lit(1), size($"bnd")), j =>
            struct(element_at($"fs", element_at($"bnd", j)).as("f"),
              (when(j < size($"bnd"), element_at($"bnd", j + 1))
                .otherwise(size($"fs") + 1) - element_at($"bnd", j))
                .cast("long").as("c")))).as("p"))
        .select($"doc_id", $"lang", $"p.f".as("f"), $"p.c".as("c"))
      val fcsC = graft.Scratch.track(fcs.cache())
      val raw = fcsC.groupBy($"f").agg(sum($"c").as("cr"),
        sum(when($"lang" === "en", $"c").otherwise(0L)).as("ct"))
      val totals = raw.agg(sum($"cr").as("nr"), sum($"ct").as("nt"))
      val ratios = raw.crossJoin(broadcast(totals))
        .select($"f", expr(
          s"((ct + 1) * (nr + $bCount) * 1000000) div " +
            s"((cr + 1) * (nt + $bCount))").as("ratio_micro"))
      fcsC.join(broadcast(ratios), Seq("f"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_bigrams"),
          sum($"c" * $"ratio_micro").as("weight_micro"))
        .select($"doc_id", $"n_bigrams", $"weight_micro",
          expr("weight_micro div n_bigrams").as("w_per_bigram"))
        .orderBy($"doc_id")
    }),

    // exact dedup: group by fingerprint, keep min doc_id.
    "dedup_exact" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id",
          md5(regexp_replace(lower(trim($"text")), "\\s+", " ")).as("fp"))
        .groupBy($"fp")
        .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .select($"keeper", $"n_copies")
        .orderBy($"keeper")
    }),

    // n-gram Jaccard near-dup pairs (exact, DF-capped candidate join
    // — the memoized shared-shingle intersection, see shingleInter).
    "dedup_ngram_jaccard" -> ((s, dir) => {
      import s.implicits._
      val (cnt, inter) = shingleInter(s, dir)
      inter
        .join(cnt.select($"doc_id".as("da"), $"n".as("na")), Seq("da"))
        .join(cnt.select($"doc_id".as("db"), $"n".as("nb")), Seq("db"))
        .withColumn("jaccard", $"i" * 1.0 / ($"na" + $"nb" - $"i"))
        .filter($"jaccard" >= 0.7)
        .select($"da", $"db", $"jaccard")
        .orderBy($"da", $"db")
    }),

    // Shingle CONTAINMENT (Broder's asymmetric measure): |A∩B|/|A|
    // catches a short doc quoted inside a long one — exactly the case
    // symmetric Jaccard misses (the union term swamps the overlap).
    // The candidate join is the same DF-capped shared-shingle join as
    // dedup_ngram_jaccard (stop-shingle removal bounds it at scale);
    // both directions report from one ordered pair row.
    "t_containment" -> ((s, dir) => {
      import s.implicits._
      val (cnt, inter) = shingleInter(s, dir)
      inter
        .join(cnt.select($"doc_id".as("da"), $"n".as("na")), Seq("da"))
        .join(cnt.select($"doc_id".as("db"), $"n".as("nb")), Seq("db"))
        .withColumn("c_ab", $"i" * 1.0 / $"na")
        .withColumn("c_ba", $"i" * 1.0 / $"nb")
        .filter(greatest($"c_ab", $"c_ba") >= 0.5)
        .select($"da", $"db", $"i", $"c_ab", $"c_ba")
        .orderBy($"da", $"db")
    }),

    // MinHash(12) + LSH(4 bands × 3 rows) candidates, exact-Jaccard
    // verified. Deterministic end-to-end: md5 min-hashing both sides.
    // Signatures are computed on the EXPLODED shingle table as 12
    // codegen'd min() aggregate columns in one hash aggregate (the
    // oracle's own shape) — no interpreted HOF md5 lambdas; map-side
    // partial mins shrink the shuffle to 12 hashes per doc.
    // Carter-Wegman double hashing cuts the per-shingle hashing cost
    // 12×: ONE md5, split into two 32-bit halves (a, b), gives the
    // whole family as h_i = a + i·b — the standard minhash trick
    // (Kirsch & Mitzenmacher), with the same closed form in the
    // DuckDB oracle for bit-parity.
    "dedup_minhash_lsh" -> ((s, dir) => {
      import s.implicits._
      minhashPairs(s, dir).orderBy($"da", $"db")
    }),

    // Triangle counting over the near-dup pair graph (near-dup
    // clusters are near-cliques, so triangle density separates true
    // duplicate groups from chance LSH collisions). Sorted-orientation
    // join: edges are kept as (da < db), so each triangle
    // (a < b < c) is found exactly once via e1(a,b) ⋈ e2(b,c) ⋈
    // e3(a,c) — the node-iterator algorithm whose join fan-out is
    // bounded by the orientation (no high-degree explosion at scale).
    // The pair graph is the memoized LSH-verified set, bounded by
    // banding — never an all-pairs product.
    "dedup_tri_count" -> ((s, dir) => {
      import s.implicits._
      val e = minhashPairs(s, dir).select($"da", $"db")
      val tri = e.select($"da".as("a"), $"db".as("b"))
        .join(e.select($"da".as("b"), $"db".as("c")), Seq("b"))
        .join(e.select($"da".as("a"), $"db".as("c")), Seq("a", "c"))
      tri.select(explode(array($"a", $"b", $"c")).as("doc_id"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_triangles"))
        .orderBy($"doc_id")
    }),

    // dup-pair graph → clusters → canonical keeper: the standard final
    // step of a corpus dedup pipeline. Connected components over the
    // verified MinHash pairs (min-id labels via clusterLabels: a
    // size-gated driver union-find for banding-bounded pair graphs,
    // the distributed min-label-propagation loop past the gate).
    // Every document gets (cluster, keep): keep = it is its
    // cluster's min id.
    "dedup_cluster" -> ((s, dir) => {
      import s.implicits._
      val lab = clusterLabels(minhashPairs(s, dir))
      t(s, dir, "documents").select($"doc_id")
        .join(lab.select($"id".as("doc_id"), $"cluster"),
          Seq("doc_id"), "left_outer")
        .select($"doc_id",
          coalesce($"cluster", $"doc_id").as("cluster"),
          (coalesce($"cluster", $"doc_id") === $"doc_id").as("keep"))
        .orderBy($"doc_id")
    }),

    // intra-document repetition (Gopher-style quality signal): the
    // fraction of duplicate word-bigrams and the share held by the
    // single most frequent bigram. High values flag boilerplate /
    // degenerate generations. Every statistic is a function of ONE
    // document's own bigram multiset, so it computes per-row with
    // array HOFs — no explode, no shuffle, nothing crosses the
    // network at any corpus size (r16; the old shape shuffled every
    // bigram occurrence through groupBy(doc_id, g) + groupBy(doc_id),
    // two corpus-sized exchanges, to learn per-doc numbers). ndist =
    // |array_distinct|, maxc = the longest equal-run of the SORTED
    // bigram array; the divisions are the same long→double casts the
    // grouped shape produced, so results are bit-identical.
    "t_repetition" -> ((s, dir) => {
      import s.implicits._
      val acc0 = struct(lit(null).cast("string").as("prev"),
        lit(0L).as("run"), lit(0L).as("best"))
      t(s, dir, "documents")
        .select($"doc_id", wordsCol.as("w"))
        .withColumn("bg", when(size($"w") >= 2,
          transform(sequence(lit(1), size($"w") - 1),
            i => array_join(slice($"w", i, lit(2)), " "))))
        .withColumn("maxc", aggregate(sort_array($"bg"), acc0,
          (acc, x) => {
            val run = when(acc.getField("prev") <=> x,
              acc.getField("run") + 1L).otherwise(lit(1L))
            struct(x.as("prev"), run.as("run"),
              greatest(acc.getField("best"), run).as("best"))
          },
          acc => acc.getField("best")))
        .select($"doc_id",
          when($"bg".isNull, lit(0.0))
            .otherwise(lit(1.0) -
              size(array_distinct($"bg")) * 1.0 / size($"bg"))
            .as("dup_bigram_frac"),
          when($"bg".isNull, lit(0.0))
            .otherwise($"maxc" * 1.0 / size($"bg"))
            .as("top_bigram_frac"))
        .orderBy($"doc_id")
    }),

    // CCNet-style vocabulary statistics: per-doc out-of-vocabulary
    // rate against the corpus's top-100 vocabulary, and the average
    // corpus frequency of the doc's words — the language-model-free
    // fluency signals (a doc of rare/garbage tokens scores low).
    // Integer-exact: counts are long sums, the two ratios are single
    // double divisions — bit-identical in the oracle. Shape: one
    // word-count shuffle; the top-100 vocab broadcasts; the per-word
    // frequency join is keyed by word (the standard join a 100 TB
    // corpus shards naturally).
    "t_vocab_stats" -> ((s, dir) => {
      // NOTE (r16): a per-row run-length rewrite (distinct (doc, w, c)
      // rows through the freq join, c-weighted sums) was tried and
      // measured 1.6x WORSE at sf0.1 — the per-row sort_array over
      // every document's full word array costs more than the
      // occurrence-row shuffle it saves. The occurrence shape stays.
      import s.implicits._
      val toks = t(s, dir, "documents")
        .select($"doc_id", explode(wordsCol).as("w"))
      val freq = toks.groupBy($"w").agg(count(lit(1)).as("cnt"))
      val vocab = freq.orderBy($"cnt".desc, $"w").limit(100)
        .select($"w", lit(1).as("in_vocab"))
      toks
        .join(freq, Seq("w"))
        .join(broadcast(vocab), Seq("w"), "left_outer")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"),
          (sum(when($"in_vocab".isNull, 1L).otherwise(0L)) * 1.0 /
            count(lit(1))).as("oov_rate"),
          (sum($"cnt") * 1.0 / count(lit(1))).as("avg_word_freq"))
        .orderBy($"doc_id")
    }),

    // Gopher-style quality-filter composite (MassiveText rules on the
    // signals this corpus can express): per-doc rule flags + the final
    // keep verdict in ONE pass — the real shape of corpus filtering,
    // where a pipeline wants WHY a doc dropped, not just that it did.
    // Rules: word count in [20, 10k]; mean word length in [2, 10];
    // ≥ 2 stopword hits; distinct-word ratio ≥ 0.2; duplicate-bigram
    // fraction ≤ 0.6. Narrow per-doc aggregations — one bigram
    // shuffle, everything else per-row; scales like t_repetition.
    "t_gopher_filter" -> ((s, dir) => {
      import s.implicits._
      val stops = Seq("the", "and", "of", "to", "in", "a", "is",
        "that", "for", "it")
      val docs = t(s, dir, "documents").select($"doc_id", wordsCol.as("w"))
      val base = docs.select($"doc_id", $"w",
        size($"w").cast("long").as("n_words"),
        (aggregate($"w", lit(0L), (a, x) => a + length(x)) * 1.0 /
          size($"w")).as("mean_word_len"),
        size(filter($"w", x =>
          stops.map(lit(_) === x).reduce(_ || _)))
          .cast("long").as("stop_hits"),
        (size(array_distinct($"w")) * 1.0 / size($"w"))
          .as("distinct_ratio"))
      // the duplicate-bigram fraction is a function of ONE document's
      // own bigram multiset — computed per-row with array HOFs (r16):
      // the old explode + groupBy(doc_id, g) + groupBy(doc_id) + join
      // shuffled every bigram occurrence twice to learn a per-doc
      // number; nothing needs to cross the network for it at any
      // corpus size. Same long→double divisions, bit-identical.
      base
        .withColumn("bg", when(size($"w") >= 2,
          transform(sequence(lit(1), size($"w") - 1),
            i => array_join(slice($"w", i, lit(2)), " "))))
        .withColumn("dup_bigram_frac",
          when($"bg".isNull, lit(0.0))
            .otherwise(lit(1.0) -
              size(array_distinct($"bg")) * 1.0 / size($"bg")))
        .select($"doc_id", $"n_words", $"mean_word_len", $"stop_hits",
          $"distinct_ratio", $"dup_bigram_frac",
          ($"n_words" >= 20 && $"n_words" <= 10000).as("ok_words"),
          ($"mean_word_len" >= 2.0 && $"mean_word_len" <= 10.0)
            .as("ok_mwl"),
          ($"stop_hits" >= 2).as("ok_stops"),
          ($"distinct_ratio" >= 0.2).as("ok_distinct"),
          ($"dup_bigram_frac" <= 0.6).as("ok_rep"))
        .withColumn("keep",
          $"ok_words" && $"ok_mwl" && $"ok_stops" &&
            $"ok_distinct" && $"ok_rep")
        .orderBy($"doc_id")
    }),

    // deterministic stratified sampling: within each language stratum
    // keep the docs whose salted-md5 bucket falls under the rate — the
    // reproducible (re-runnable, oracle-able) corpus downsampling
    // primitive. Pure per-row hash + filter: no shuffle at all.
    "t_sample" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", $"lang",
          (conv(substring(md5(concat(lit("sample:"), $"doc_id")), 1, 8),
            16, 10).cast("long") % 100).as("bucket"))
        .filter($"bucket" < 20)
        .select($"doc_id", $"lang", $"bucket")
        .orderBy($"doc_id")
    }),

    // SimHash(64-bit over md5 nibbles) per doc.
    "dedup_simhash" -> ((s, dir) => {
      import s.implicits._
      simhashPerDoc(s, dir).orderBy($"doc_id")
    }),

    // SimHash near-dup pairs: 4×16-bit banding (a pair within
    // Hamming ≤ 3 of 64 bits must agree on ≥1 of 4 16-bit bands —
    // pigeonhole, so banding has perfect recall) + exact Hamming
    // verify. 65536 buckets per band keep per-bucket candidate sets
    // ~256× smaller than byte bands at corpus scale (round-7 flag).
    "dedup_simhash_pairs" -> ((s, dir) => {
      import s.implicits._
      val sims = simhashPerDoc(s, dir)
      val bands = sims
        .select($"doc_id", $"simhash",
          explode(sequence(lit(0), lit(3))).as("k"))
        .withColumn("band", expr("shiftright(simhash, 16*k) & 65535"))
      // NOTE (r16): the bucket-local pair recipe (groupBy band key +
      // index-HOF explode, as in lshCandidates) was tried here and
      // measured ~2× WORSE: simhash band values concentrate into hot
      // buckets, and the O(m²) pair explode runs through the
      // interpreter per element where the self-join's C(m,2) runs in
      // codegen. The two-exchange SMJ stays.
      val cand = bands.select($"doc_id".as("da"), $"simhash".as("sa"),
          $"k", $"band")
        .join(bands.select($"doc_id".as("db"), $"simhash".as("sb"),
          $"k", $"band"), Seq("k", "band"))
        .filter($"da" < $"db")
        .select($"da", $"db", $"sa", $"sb").distinct()
      cand
        .withColumn("hamming", expr("bit_count(sa ^ sb)").cast("long"))
        .filter($"hamming" <= 3)
        .select($"da", $"db", $"hamming")
        .orderBy($"da", $"db")
    }),

    // corpus n-gram statistics: the top-20 word bigrams by total count
    // (ties broken by bigram text — fully deterministic top-k). The
    // corpus-analysis staple behind vocabulary reports and template
    // detection. One shuffle on the bigram; partial aggregation
    // shrinks it map-side, and the top-k is a 20-row driver result —
    // the shape is a word-count, it holds at any scale.
    "t_ngram_stats" -> ((s, dir) => {
      import s.implicits._
      // per-doc bigram multiplicities compute per-row (sorted-array
      // run lengths, the t_entropy trick), so ONE map-side-combined
      // exchange carries (bg, c) per DISTINCT (doc, bigram) and plain
      // count(*) IS the distinct doc count — the old
      // count_distinct(doc_id) planned the two-exchange
      // distinct-aggregate over every bigram OCCURRENCE (r16, §2.4)
      t(s, dir, "documents")
        .select(wordsCol.as("w"))
        .filter(size($"w") >= 2)
        .select(sort_array(kShinglesCol($"w", 2)).as("sg"))
        .withColumn("bnd", filter(sequence(lit(1), size($"sg")),
          i => i === 1 ||
            element_at($"sg", i) =!= element_at($"sg", i - 1)))
        .select(explode(transform(sequence(lit(1), size($"bnd")), j =>
          struct(element_at($"sg", element_at($"bnd", j)).as("bg"),
            (when(j < size($"bnd"), element_at($"bnd", j + 1))
              .otherwise(size($"sg") + 1) - element_at($"bnd", j))
              .cast("long").as("c")))).as("p"))
        .groupBy($"p.bg".as("bg"))
        .agg(sum($"p.c").as("n_total"), count(lit(1)).as("n_docs"))
        .orderBy($"n_total".desc, $"bg")
        .limit(20)
    }),

    // duplicated-span detection (the signal behind Lee et al. 2022's
    // exact-substring dedup, arXiv:2107.06499): a doc's distinct
    // 8-word spans that also appear verbatim in ANOTHER doc, plus the
    // duplicated fraction. Unlike the pairwise dedup ops this never
    // joins doc×doc: the shared-span set comes from one groupBy on
    // the span (map-side combined), and docs re-join it by span key —
    // both shuffles are keyed on the span, so the plan is two
    // word-count-shaped passes regardless of corpus size.
    "t_dup_spans" -> ((s, dir) => {
      import s.implicits._
      // a doc's distinct spans live in its own row's array, so the
      // span table is per-row array_distinct + explode (no corpus
      // `.distinct()` exchange) and n_spans is size(sp) computed
      // per-row — the old shape shuffled every (doc_id, s) pair to
      // dedup and again to count per doc (r16, guide §2.4). The base
      // is cached (three consumers; the cache replaces the old
      // distinct table's materialization, with one array row per doc
      // instead of exploded pairs).
      val base = graft.Scratch.track(
        t(s, dir, "documents")
          .select($"doc_id", wordsCol.as("w"))
          .select($"doc_id", array_distinct(kShinglesCol($"w", 8)).as("sp"))
          .cache())
      val sh = base.select($"doc_id", explode($"sp").as("s"))
      // sh is (doc_id, s)-distinct, so plain count(*) IS the distinct
      // doc count — count_distinct would plan the two-exchange
      // distinct-aggregate for a dedup the frame already guarantees
      val shared = sh.groupBy($"s")
        .agg(count(lit(1)).as("nd"))
        .filter($"nd" >= 2)
        .select($"s")
      val dup = sh.join(shared, Seq("s"), "left_semi")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_dup"))
      base.select($"doc_id", size($"sp").cast("long").as("n_spans"))
        .join(dup, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"n_spans",
          coalesce($"n_dup", lit(0L)).as("n_dup"))
        .withColumn("dup_frac",
          when($"n_spans" === 0, lit(0.0))
            .otherwise($"n_dup".cast("double") / $"n_spans"))
        .orderBy($"doc_id")
    }),

    // Content-defined chunking (CDC) dedup — the storage-dedup /
    // incremental-corpus technique: chunk boundaries fall where a
    // cheap per-word hash hits a modulus (content-defined, so an
    // insertion near the head of a document does NOT shift every
    // later chunk identity the way fixed-width spans shift), chunks
    // fingerprint by md5 of their text, and chunks shared by ≥2 docs
    // surface. Boundary detection and chunking are per-row HOFs (zero
    // shuffle); the dedup keys on the chunk fingerprint — never a
    // doc×doc join — so the shape survives any corpus size.
    "t_cdc_dedup" -> ((s, dir) => {
      import s.implicits._
      def bcond(x: Column): Column =
        (length(x) * 31 + ascii(x)) % 16 === 0
      val withB = t(s, dir, "documents")
        .select($"doc_id", wordsCol.as("w"))
        .withColumn("b", concat(
          array(lit(0)),
          // sequence(1, 0) steps DOWNWARD to [1, 0] — a one-word doc
          // would evaluate element_at(w, 0) and throw; such a doc has
          // no interior boundary candidates at all
          when(size($"w") > 1,
            filter(sequence(lit(1), size($"w") - 1),
              i => bcond(element_at($"w", i))))
            .otherwise(lit(Array.empty[Int])),
          array(size($"w"))))
      withB
        .select($"doc_id", explode(
          transform(sequence(lit(1), size($"b") - 1), j =>
            slice($"w", element_at($"b", j) + 1,
              element_at($"b", j + 1) - element_at($"b", j)))).as("c"))
        .filter(size($"c") >= 4)
        .select($"doc_id", md5(concat_ws(" ", $"c")).as("fp"),
          size($"c").cast("long").as("n_words"))
        .distinct()
        // rows are (doc_id, fp)-distinct (fp determines n_words), so
        // count(*) IS the distinct doc count — skips the two-exchange
        // distinct-aggregate plan
        .groupBy($"fp")
        .agg(count(lit(1)).as("n_docs"),
          max($"n_words").as("n_words"))
        .filter($"n_docs" >= 2)
        .select($"fp", $"n_docs", $"n_words")
        .orderBy($"fp")
    }),

    // BM25 keyword retrieval (Robertson/Spärck Jones; k1=1.2, b=0.75):
    // per-doc relevance against a fixed query term set — the lexical
    // retrieval half of a data-curation stack (the other half is the
    // ANN family in VectorOps). The plan is inverted-index-shaped:
    // tokens filter to query terms BEFORE any shuffle, document
    // frequencies and corpus stats are single-row/broadcast joins, and
    // the per-(doc, term) score aggregates map-side — no all-doc
    // shuffle carries text. Every input to the formula is an integer
    // (tf, dl, df, N) cast to double in the same expression both
    // engines evaluate, so scores replay exactly.
    "t_bm25" -> ((s, dir) => {
      import s.implicits._
      val terms = Seq("spark", "hash", "join")
      val docs = t(s, dir, "documents")
        .select($"doc_id", wordsCol.as("w"))
        .select($"doc_id", size($"w").cast("long").as("dl"), $"w")
      val stats = docs.agg(count(lit(1)).as("n_docs"),
        sum($"dl").as("sum_dl"))
      val tf = docs
        .select($"doc_id", $"dl", explode($"w").as("term"))
        .filter($"term".isin(terms: _*))
        .groupBy($"doc_id", $"dl", $"term")
        .agg(count(lit(1)).as("tf"))
      // tf is (doc_id, term)-grouped, so count(*) IS the distinct doc
      // frequency — no distinct-aggregate double exchange
      val dfreq = tf.groupBy($"term")
        .agg(count(lit(1)).as("dfreq"))
      tf.join(broadcast(dfreq), Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("avgdl", $"sum_dl".cast("double") / $"n_docs")
        .withColumn("idf", log(lit(1.0) +
          (($"n_docs" - $"dfreq").cast("double") + 0.5) /
            ($"dfreq".cast("double") + 0.5)))
        .withColumn("contrib", $"idf" * ($"tf".cast("double") * 2.2) /
          ($"tf".cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) *
              ($"dl".cast("double") / $"avgdl"))))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_terms"),
          round(sum($"contrib"), 9).as("score"))
        .orderBy($"doc_id")
    }),

    // bigram-LM perplexity (the CCNet/Gopher-style perplexity filter,
    // self-trained on the corpus): add-one-smoothed p(w|prev) =
    // (c(prev,w)+1)/(c(prev)+V); per-position -ln p quantizes to
    // integer micro-nats so the per-doc reduction is a LONG sum
    // (order-independent → exact oracle), ppl = exp(nll / n). Plan:
    // one bigram-explode pass, two count aggregations keyed on the
    // bigram/context, keyed joins back, vocab size broadcast — every
    // shuffle is word-count-shaped; nothing is all-pairs.
    "t_ppl" -> ((s, dir) => {
      // NOTE (r16): the same per-row run-length rewrite (distinct
      // (doc, prev, wd, c) rows, weighted nll sums) measured ~15%
      // worse here — sorting an array of string-pair structs per doc
      // is pricier than the occurrence shuffle at this row width. The
      // occurrence shape stays.
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", wordsCol.as("w"))
      val bg = docs
        .filter(size($"w") >= 2)
        .select($"doc_id", explode(transform(sequence(lit(1), size($"w") - 1),
          i => struct(element_at($"w", i).as("prev"),
            element_at($"w", i + 1).as("wd")))).as("p"))
        .select($"doc_id", $"p.prev".as("prev"), $"p.wd".as("wd"))
      val bgc = bg.groupBy($"prev", $"wd").agg(count(lit(1)).as("cbi"))
      val ugc = bgc.groupBy($"prev")
        .agg(sum($"cbi").cast("long").as("cprev"))
      val voc = docs.select(explode($"w").as("tok"))
        .agg(count_distinct($"tok").as("vsize"))
      bg.join(bgc, Seq("prev", "wd")).join(ugc, Seq("prev"))
        .crossJoin(broadcast(voc))
        .withColumn("nll", round(log(
          ($"cprev" + $"vsize").cast("double") /
            ($"cbi" + lit(1L)).cast("double")) * 1e6, 0).cast("long"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum($"nll").as("nll_micro"))
        .select($"doc_id", $"n_bigrams", $"nll_micro",
          round(exp($"nll_micro".cast("double") /
            ($"n_bigrams".cast("double") * 1e6)), 6).as("ppl"))
        .orderBy($"doc_id")
    }),

    // character-entropy quality signal (low entropy flags repetitive /
    // machine-generated text; a Shannon-entropy gate is standard in
    // web-corpus cleaning). The float trap here is that Σ p·log p is
    // order-sensitive under double addition, so the per-char ln is
    // QUANTIZED to integer micro-nats and the per-doc reduction is a
    // LONG sum (order-independent, replayable):
    //   H_bits = (ln(n)·n − Σ c·⌊ln(c)·1e6⌉) / (n·1e6) / ln 2.
    // Two keyed aggregations, both map-side combined — word-count
    // shape at any corpus size.
    // r16: the entropy of ONE document's character multiset computes
    // per-row — sort the doc's chars and fold run-lengths (a run per
    // distinct char once sorted), accumulating Σ c·⌊ln(c)·1e6⌉ and the
    // alphabet size in one pass. The old shape exploded every
    // CHARACTER into a row and shuffled the corpus twice
    // (groupBy(doc_id, ch) + groupBy(doc_id)) to learn per-doc
    // numbers; nothing needs to cross the network for this at any
    // corpus size. Quantization and divisions are unchanged, so the
    // result is bit-identical (docs with no characters were absent
    // from the old inner aggregation and stay absent).
    "t_entropy" -> ((s, dir) => {
      import s.implicits._
      def lnq(c: Column): Column =
        round(log(c.cast("double")) * 1e6, 0).cast("long")
      t(s, dir, "documents")
        .select($"doc_id", filter(split($"text", ""), x => x =!= "").as("cs"))
        .filter(size($"cs") > 0)
        .withColumn("sorted", sort_array($"cs"))
        // run boundaries (1-based run-start positions) in the sorted
        // char array: one run per distinct char, run length = distance
        // to the next boundary — integer arrays only, no struct folds
        .withColumn("bnd", filter(sequence(lit(1), size($"sorted")),
          i => i === 1 ||
            element_at($"sorted", i) =!= element_at($"sorted", i - 1)))
        .withColumn("runs", transform(sequence(lit(1), size($"bnd")),
          j => when(j < size($"bnd"), element_at($"bnd", j + 1))
            .otherwise(size($"sorted") + 1) - element_at($"bnd", j)))
        .withColumn("s", aggregate($"runs", lit(0L),
          (a, c) => a + c.cast("long") * lnq(c)))
        .select($"doc_id", size($"cs").cast("long").as("n"),
          size($"bnd").cast("long").as("alphabet"),
          round((lnq(size($"cs")) * size($"cs").cast("long")
            - $"s").cast("double") /
            (size($"cs").cast("double") * 1e6) / log(lit(2.0)), 6)
            .as("entropy_bits"))
        .orderBy($"doc_id")
    }))

  /** 64-bit SimHash over distinct tokens: bit j comes from md5's first
    * 16 hex nibbles (MSB-first); each token votes ±1 per bit; simhash
    * bit j set iff the vote sum is positive. 64 bits (vs round-1's 32)
    * is the scale recipe: 16-bit bands over a 64-bit hash give 65536
    * buckets per band, so per-bucket candidate pair counts drop ~256×
    * vs byte bands on a large corpus while the hamming≤3 pigeonhole
    * guarantee is unchanged (4 bands, ≤3 differing bits → ≥1 intact).
    *
    * Physical shape: each token's md5 prefix decodes ONCE via two
    * `conv(..., 16, 10)` 32-bit halves (a single 64-bit conv would
    * overflow the signed Long cast); the oracle's nibble arithmetic
    * reduces to `bit_j = (half >> (31 - j%32)) & 1`. The per-doc vote
    * tally is a single whole-stage-codegen hash aggregate with 64
    * bit-count sums — no interpreted HOF lambdas. `votes_j > 0` ⟺
    * `2*ones_j > n_tokens`. Shuffle per doc is 65 longs (map-side
    * partial agg), so the shape holds at any scale. Bit 63 makes the
    * Long negative — two's complement, matching DuckDB BIGINT exactly.
    */
  /** per-doc 64-bit SimHash signatures, a result memo —
    * dedup_simhash (the signature table) and dedup_simhash_pairs (the
    * banded near-dup join) share one signature computation the way
    * the MinHash family shares its pair graph. */
  private def simhashPerDoc(s: SparkSession, dir: String): DataFrame =
    graft.Memo.result("TextOps.simhashPerDoc", s, dir)(
      computeSimhashPerDoc(s, dir).localCheckpoint())

  private def computeSimhashPerDoc(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val toks = t(s, dir, "documents")
      .select($"doc_id", array_distinct(wordsCol).as("w"))
      .select($"doc_id", explode($"w").as("tok"))
      .select($"doc_id",
        conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long").as("vh"),
        conv(substring(md5($"tok"), 9, 8), 16, 10).cast("long").as("vl"))
    val ones = (0 until 64).map { j =>
      val half = if (j < 32) $"vh" else $"vl"
      sum(shiftright(half, 31 - j % 32).bitwiseAND(1)).as(s"o$j")
    }
    val simhash = (0 until 64).map(j =>
      when(col(s"o$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    toks.groupBy($"doc_id")
      .agg(ones.head, (ones.tail :+ count(lit(1)).as("n")): _*)
      .select($"doc_id", simhash.as("simhash"))
  }

  /** the t_chunk transform over an arbitrary (doc_id, text) frame —
    * row-local explode (W=64, S=48), shared verbatim by the batch
    * entry and the streaming twin (EventStreams.chunkStream) so their
    * parity holds by construction
    */
  private[graft] def chunkTable(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val W = 64; val S = 48
    docs
      .select($"doc_id", wordsCol.as("w"))
      .withColumn("n", size($"w")).filter($"n" > 0)
      .withColumn("k", when($"n" <= W, lit(0L))
        .otherwise(floor(($"n" - W + S - 1) / lit(S)).cast("long")))
      .select($"doc_id", $"w", $"n",
        explode(sequence(lit(0L), $"k")).as("chunk_idx"))
      .withColumn("start_tok", $"chunk_idx" * S)
      .withColumn("ck",
        slice($"w", ($"start_tok" + 1).cast("int"), lit(W)))
      .select($"doc_id", $"chunk_idx", $"start_tok",
        size($"ck").cast("long").as("n_tok"),
        md5(array_join($"ck", " ")).as("chunk_fp"))
  }

  /** trained BPE merge table, a result memo per (session, dir,
    * rounds): t_bpe_train and t_bpe_encode consume the SAME artifact —
    * one trained tokenizer per corpus — exactly like the MinHash pair
    * graph both dedup entries share. The value is `rounds` driver rows
    * (the merge list), so clearing frees no blocks.
    */
  private[graft] def bpeMerges(s: SparkSession, dir: String, rounds: Int)
      : Seq[(Long, String, String, Long)] =
    graft.Memo.result("TextOps.bpeMerges", s, dir, rounds)(
      bpeTrainRows(t(s, dir, "documents"), rounds))

  /** the t_bpe_train trainer over an arbitrary (… text …) frame —
    * factored out so specs can feed engineered corpora (identical-
    * symbol runs) and hold the closed-form merge rule to a sequential
    * reference fold
    */
  private[graft] def bpeTrain(docs: DataFrame, rounds: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    bpeTrainRows(docs, rounds).toDF("round", "pa", "pb", "cnt")
      .orderBy($"round")
  }

  private def bpeTrainRows(docs: DataFrame, rounds: Int)
      : Seq[(Long, String, String, Long)] = {
    val s = docs.sparkSession
    import s.implicits._
    val words0 = docs
      .select(explode(wordsCol).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
      .select(regexp_extract_all($"word", lit("."), lit(0)).as("s"),
        $"cnt")
    var words = graft.Scratch.track(words0.cache())
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to rounds) {
      val pairs = words.filter(size($"s") >= 2)
        .select($"cnt",
          explode(transform(sequence(lit(1), size($"s") - 1),
            i => struct(element_at($"s", i).as("pa"),
              element_at($"s", i + 1).as("pb")))).as("p"))
        .groupBy($"p.pa".as("pa"), $"p.pb".as("pb"))
        .agg(sum($"cnt").as("c"))
      val best = pairs.orderBy($"c".desc, $"pa", $"pb").limit(1)
        .collect()(0)
      val (pa, pb, c) =
        (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((r.toLong, pa, pb, c))
      // pin each round's rewrite (vocab-sized, interpreted HOFs):
      // left lazy, round r's pair count replayed rounds 1..r-1's
      // rewrites from the base cache — O(rounds²) rewrite passes for
      // O(rounds) declared work. The LAST round's rewrite is never
      // consumed at all (only the merge list leaves the trainer), so
      // it is skipped rather than computed-and-dropped.
      if (r < rounds)
        words = graft.Scratch.track(bpeApplyMerge(words, pa, pb).cache())
    }
    merges.result()
  }

  /** apply one trained merge (pa, pb) to a frame's `s` symbol-array
    * column — the closed-form leftmost-greedy rule shared by the
    * trainer's per-round rewrite and the encoder's replay (flags per
    * 1-based position: s[i]=pb ∧ s[i-1]=pa ∧ (pa≠pb ∨ the pa-run
    * ending at i-1 has odd length); see the t_bpe_train entry comment
    * for why that formula IS the sequential fold)
    */
  private def bpeApplyMerge(df: DataFrame, pa: String, pb: String)
      : DataFrame = {
    val s = col("s")
    val flags = transform(sequence(lit(1), size(s)), i =>
      when(i === 1, lit(false)).otherwise(
        element_at(s, i) === pb &&
          element_at(s, i - 1) === pa &&
          (lit(pa != pb) ||
            ((i - 1 - coalesce(
              array_max(filter(sequence(lit(1), i - 1),
                j => element_at(s, j) =!= pa)), lit(0)))
              % 2 === 1))))
    df.withColumn("m", flags)
      .withColumn("s", filter(
        transform(sequence(lit(1), size(s)), i =>
          when(element_at(col("m"), i), lit(null).cast("string"))
            .when(i === size(s), element_at(s, i))
            .when(element_at(col("m"), i + 1), lit(pa + pb))
            .otherwise(element_at(s, i))),
        x => x.isNotNull))
      .drop("m")
  }

  /** t_bpe_encode: tokenize every document with the merges t_bpe_train
    * learns — the apply side of the BPE pair. Work is vocabulary-
    * bounded end to end: the trainer's rounds shuffle distinct words,
    * the replay rewrites each DISTINCT word once (never per
    * occurrence), and the only corpus-sized job is the final
    * word→token-count join + per-doc sum. At 100 TB the word→tokens
    * table is a vocabulary, not a corpus — it joins hash-partitioned
    * on the word key with map-side partial sums.
    */
  private[graft] def bpeEncode(docs: DataFrame, rounds: Int): DataFrame =
    bpeEncodeWith(docs, bpeTrainRows(docs, rounds).map(m => (m._2, m._3)))

  private def bpeEncodeWith(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    var words = docs.select(explode(wordsCol).as("word"))
      .filter($"word" =!= "").distinct()
      .select($"word",
        regexp_extract_all($"word", lit("."), lit(0)).as("s"))
    for ((pa, pb) <- merges) words = bpeApplyMerge(words, pa, pb)
    val encoded = graft.Scratch.track(words.select($"word",
      size($"s").as("toks"),
      size(regexp_extract_all($"word", lit("."), lit(0))).as("syms"))
      .cache())
    // runtime-adaptive dimension join (the triangleCounts recipe): the
    // word→tokens table is a VOCABULARY; when it fits a broadcast the
    // corpus side pays NO exchange on the word key (the count is
    // cheap — it materializes the interpreted merge rewrites once,
    // outside the join). Past the gate the hash-partitioned join is
    // the right plan at scale.
    val encDim =
      if (encoded.count() <= 5000000L) broadcast(encoded) else encoded
    docs.select($"doc_id", explode(wordsCol).as("word"))
      .filter($"word" =!= "")
      .join(encDim, "word")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_ws"),
        sum($"toks").cast("long").as("n_tok"),
        (sum($"syms") - sum($"toks")).cast("long").as("n_merged"))
      .orderBy($"doc_id")
  }

  /** one unrolled BPE merge round for the t_bpe_train oracle: pair
    * counts over `$prev`, the argmax pick `b$r`, and the merged word
    * table `w$r` — the same closed-form leftmost-greedy rule the
    * Spark side evaluates (see the t_bpe_train entry comment).
    */
  private def bpeRound(prev: String, r: Int): String =
    s"""p$r AS (SELECT s[i] AS pa, s[i+1] AS pb,
            CAST(sum(cnt) AS BIGINT) AS c
          FROM (SELECT s, cnt, unnest(range(1, len(s))) AS i
                FROM $prev WHERE len(s) >= 2)
          GROUP BY 1, 2),
        b$r AS (SELECT pa, pb, c FROM p$r
          ORDER BY c DESC, pa, pb LIMIT 1),
        w$r AS (SELECT list_filter(
            list_transform(range(1, len(s) + 1), i ->
              CASE WHEN m[i] THEN NULL
                   WHEN i = len(s) THEN s[i]
                   WHEN m[i + 1] THEN pa || pb
                   ELSE s[i] END),
            x -> x IS NOT NULL) AS s, cnt
          FROM (SELECT s, cnt, pa, pb,
                  list_transform(range(1, len(s) + 1), i ->
                    i > 1 AND s[i] = pb AND s[i-1] = pa AND
                    (pa <> pb OR
                     ((i - 1 - coalesce(list_max(list_filter(
                         range(1, i), j -> s[j] <> pa)), 0)) % 2 = 1)))
                    AS m
                FROM $prev CROSS JOIN b$r))"""

  /** one unrolled merge REPLAY round for the t_bpe_encode oracle —
    * identical leftmost-greedy flags as bpeRound's w$r, but over the
    * keyed (word, s) encode chain so the final symbols join back to
    * document words; the merge pick comes from the train chain's b$r
    */
  private def bpeApplySql(prev: String, r: Int): String =
    s"""e$r AS (SELECT word, list_filter(
            list_transform(range(1, len(s) + 1), i ->
              CASE WHEN m[i] THEN NULL
                   WHEN i = len(s) THEN s[i]
                   WHEN m[i + 1] THEN pa || pb
                   ELSE s[i] END),
            x -> x IS NOT NULL) AS s
          FROM (SELECT word, s, pa, pb,
                  list_transform(range(1, len(s) + 1), i ->
                    i > 1 AND s[i] = pb AND s[i-1] = pa AND
                    (pa <> pb OR
                     ((i - 1 - coalesce(list_max(list_filter(
                         range(1, i), j -> s[j] <> pa)), 0)) % 2 = 1)))
                    AS m
                FROM $prev CROSS JOIN b$r))"""

  val oracles: Map[String, String] = Map(
    "t_url_dedup" ->
      """WITH u AS (SELECT doc_id,
           'https://' ||
           CASE doc_id % 4 WHEN 0 THEN 'WWW.Example.COM'
             WHEN 1 THEN 'cdn.Example.com'
             WHEN 2 THEN 'news.site.org' ELSE 'blog.site.org' END ||
           CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
           '/a/' || (doc_id % 50) ||
           CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
           CASE doc_id % 3
             WHEN 0 THEN '?utm_source=x&utm_campaign=y&id=' || (doc_id % 7)
             WHEN 1 THEN '?id=' || (doc_id % 7) ELSE '' END ||
           CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END AS url
         FROM documents),
        parts AS (SELECT doc_id,
           regexp_replace(regexp_replace(
             lower(regexp_extract(url, '^https://([^/?#]+)', 1)),
             '^www\.', ''), ':443$', '') AS host,
           regexp_replace(
             regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1),
             '/$', '') AS path,
           coalesce(regexp_extract(url, '\?([^#]*)', 1), '') AS q
         FROM u),
        cleaned AS (SELECT doc_id, host, path,
           regexp_replace(regexp_replace(q, 'utm_[a-z]+=[^&]*&', '', 'g'),
             '&?utm_[a-z]+=[^&]*$', '') AS q2
         FROM parts),
        canon AS (SELECT doc_id,
           'https://' || host || path ||
             CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END AS canon_url,
           regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
         FROM cleaned),
        dups AS (SELECT canon_url, CAST(count(*) AS BIGINT) AS dup_cnt
          FROM canon GROUP BY canon_url)
        SELECT c.doc_id, c.canon_url, c.domain, d.dup_cnt,
          d.dup_cnt > 1 AS is_dup
        FROM canon c JOIN dups d USING (canon_url)
        ORDER BY c.doc_id""",
    "t_bpe_train" ->
      s"""WITH w0 AS (
            SELECT regexp_extract_all(word, '.') AS s,
              CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(string_split_regex(trim(text), '\\s+'))
                    AS word FROM documents)
            WHERE word <> '' GROUP BY word),
          ${bpeRound("w0", 1)}, ${bpeRound("w1", 2)},
          ${bpeRound("w2", 3)}, ${bpeRound("w3", 4)}
          SELECT * FROM (
            SELECT CAST(1 AS BIGINT) AS round, pa, pb, c AS cnt FROM b1
            UNION ALL SELECT 2, pa, pb, c FROM b2
            UNION ALL SELECT 3, pa, pb, c FROM b3
            UNION ALL SELECT 4, pa, pb, c FROM b4)
          ORDER BY round""",
    "t_bpe_encode" ->
      s"""WITH w0 AS (
            SELECT regexp_extract_all(word, '.') AS s,
              CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(string_split_regex(trim(text), '\\s+'))
                    AS word FROM documents)
            WHERE word <> '' GROUP BY word),
          ${bpeRound("w0", 1)}, ${bpeRound("w1", 2)},
          ${bpeRound("w2", 3)}, ${bpeRound("w3", 4)},
          e0 AS (SELECT word, regexp_extract_all(word, '.') AS s
            FROM (SELECT DISTINCT unnest(
                string_split_regex(trim(text), '\\s+')) AS word
              FROM documents)
            WHERE word <> ''),
          ${bpeApplySql("e0", 1)}, ${bpeApplySql("e1", 2)},
          ${bpeApplySql("e2", 3)}, ${bpeApplySql("e3", 4)},
          dw AS (SELECT doc_id, unnest(
              string_split_regex(trim(text), '\\s+')) AS word
            FROM documents)
          SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_ws,
            CAST(sum(len(e.s)) AS BIGINT) AS n_tok,
            CAST(sum(len(regexp_extract_all(d.word, '.')))
              - sum(len(e.s)) AS BIGINT) AS n_merged
          FROM dw d JOIN e4 e USING (word)
          WHERE d.word <> ''
          GROUP BY d.doc_id ORDER BY d.doc_id""",
    "t_token_count" ->
      """SELECT doc_id, len(w) AS n_tokens,
         len(list_filter(w, x -> regexp_matches(x, '^[a-z]+$'))) AS n_alpha,
         len(list_distinct(w)) AS n_distinct
         FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') w
               FROM documents) ORDER BY doc_id""",
    "t_chunk" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w
           FROM documents),
         sized AS (SELECT doc_id, w, len(w) n FROM d WHERE len(w) > 0),
         ks AS (SELECT doc_id, w, n,
             CASE WHEN n <= 64 THEN 0 ELSE (n - 64 + 47) // 48 END k
           FROM sized),
         ch AS (SELECT doc_id, w, n,
             unnest(range(0, k + 1)) AS chunk_idx FROM ks),
         out0 AS (SELECT doc_id, chunk_idx,
             chunk_idx * 48 AS start_tok,
             list_slice(w, chunk_idx * 48 + 1,
               least(chunk_idx * 48 + 64, n)) ck
           FROM ch)
         SELECT doc_id, chunk_idx, start_tok, len(ck) AS n_tok,
           md5(array_to_string(ck, ' ')) AS chunk_fp
         FROM out0 ORDER BY doc_id, chunk_idx""",
    "t_tokens_bpe" ->
      """WITH d AS (SELECT doc_id,
           list_filter(regexp_extract_all(text,
             '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+'),
             x -> NOT regexp_matches(x, '^\s+$')) t,
           len(string_split_regex(trim(text), '\s+')) n_ws
         FROM documents)
         SELECT doc_id, CAST(n_ws AS BIGINT) AS n_ws,
           CAST(len(t) AS BIGINT) AS n_bpe,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
           CASE WHEN len(t) = 0 THEN 0.0
             ELSE CAST(list_sum(list_transform(t, x -> length(x)))
               AS DOUBLE) / len(t) END AS avg_len
         FROM d ORDER BY doc_id""",
    "t_quality" ->
      """SELECT doc_id, length(text) AS n_chars, len(w) AS n_words,
         list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w) AS avg_word_len,
         len(list_distinct(w)) * 1.0 / len(w) AS distinct_ratio
         FROM (SELECT doc_id, text, string_split_regex(trim(text), '\s+') w
               FROM documents) ORDER BY doc_id""",
    "t_lang_id" ->
      """WITH lex(lex_lang, lex_word) AS (VALUES
           ('en','the'),('en','and'),('en','of'),('en','to'),('en','in'),
           ('de','der'),('de','die'),('de','und'),('de','ist'),('de','nicht'),
           ('fr','le'),('fr','et'),('fr','les'),('fr','des'),('fr','une'),
           ('es','el'),('es','los'),('es','las'),('es','una'),('es','y')),
         toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) w
                  FROM documents),
         scores AS (SELECT doc_id, lex_lang, count(*) hits FROM toks
                    JOIN lex ON w = lex_word GROUP BY 1, 2),
         best AS (SELECT doc_id, lex_lang, hits, row_number() OVER
                    (PARTITION BY doc_id ORDER BY hits DESC, lex_lang) rn
                  FROM scores)
         SELECT d.doc_id, coalesce(b.lex_lang, 'und') AS pred_lang,
           coalesce(b.hits, 0) AS hits
         FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
           ON d.doc_id = b.doc_id
         ORDER BY d.doc_id""",
    "t_fingerprint" ->
      """SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents ORDER BY doc_id""",
    "t_ngram_stats" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w
           FROM documents),
         bg AS (SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
               i -> array_to_string(w[i:i+1], ' '))) AS bg
           FROM toks WHERE len(w) >= 2)
         SELECT bg, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs
         FROM bg GROUP BY bg ORDER BY n_total DESC, bg LIMIT 20""",
    "t_dup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w
           FROM documents),
         sh AS (SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(w) - 6),
               i -> array_to_string(w[i:i+7], ' '))) AS s
           FROM toks WHERE len(w) >= 8),
         shared AS (SELECT s, 1 AS dup FROM sh GROUP BY s
           HAVING count(DISTINCT doc_id) >= 2),
         per AS (SELECT sh.doc_id, count(*) AS n_spans,
             count(sc.dup) AS n_dup
           FROM sh LEFT JOIN shared sc USING (s) GROUP BY sh.doc_id)
         SELECT d.doc_id,
           coalesce(p.n_spans, 0) AS n_spans,
           coalesce(p.n_dup, 0) AS n_dup,
           CASE WHEN coalesce(p.n_spans, 0) = 0 THEN 0.0
             ELSE CAST(p.n_dup AS DOUBLE) / p.n_spans END AS dup_frac
         FROM documents d LEFT JOIN per p USING (doc_id)
         ORDER BY d.doc_id""",
    "t_cdc_dedup" ->
      """WITH toks AS (SELECT doc_id,
             string_split_regex(trim(text), '\s+') w FROM documents),
         b AS (SELECT doc_id, w,
             list_concat(list_concat([0],
               list_filter(range(1, len(w)), i ->
                 (31 * len(w[i]) + ascii(w[i])) % 16 = 0)),
               [len(w)]) AS bs
           FROM toks),
         ch AS (SELECT DISTINCT doc_id,
             md5(array_to_string(c, ' ')) AS fp,
             len(c) AS n_words
           FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(bs)),
                 j -> w[bs[j]+1 : bs[j+1]])) AS c
             FROM b)
           WHERE len(c) >= 4)
         SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(max(n_words) AS BIGINT) AS n_words
         FROM ch GROUP BY fp
         HAVING count(DISTINCT doc_id) >= 2 ORDER BY fp""",
    "t_bm25" ->
      """WITH d AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) dl,
             string_split_regex(trim(text), '\s+') w
           FROM documents),
         stats AS (SELECT count(*) n_docs, sum(dl) sum_dl FROM d),
         tf AS (SELECT doc_id, dl, term, count(*) tf
           FROM (SELECT doc_id, dl, unnest(w) term FROM d)
           WHERE term IN ('spark', 'hash', 'join')
           GROUP BY doc_id, dl, term),
         dfreq AS (SELECT term, count(DISTINCT doc_id) dfreq
           FROM tf GROUP BY term),
         scored AS (SELECT t.doc_id,
             ln(1.0 + (CAST(s.n_docs - f.dfreq AS DOUBLE) + 0.5)
                 / (CAST(f.dfreq AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                   (CAST(t.dl AS DOUBLE)
                     / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS contrib
           FROM tf t JOIN dfreq f USING (term) CROSS JOIN stats s)
         SELECT doc_id, count(*) AS n_terms,
           round(sum(contrib), 9) AS score
         FROM scored GROUP BY doc_id ORDER BY doc_id""",
    "t_ppl" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w
           FROM documents),
         bg AS (SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
               i -> struct_pack(prev := w[i], wd := w[i+1]))) AS p
           FROM toks WHERE len(w) >= 2),
         b2 AS (SELECT doc_id, p.prev AS prev, p.wd AS wd FROM bg),
         bgc AS (SELECT prev, wd, count(*) AS cbi FROM b2
           GROUP BY prev, wd),
         ugc AS (SELECT prev, CAST(sum(cbi) AS BIGINT) AS cprev FROM bgc
           GROUP BY prev),
         voc AS (SELECT count(DISTINCT tok) AS vsize FROM
           (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
            FROM documents)),
         j AS (SELECT b2.doc_id,
             CAST(round(ln(CAST(u.cprev + v.vsize AS DOUBLE)
               / CAST(g.cbi + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS nll
           FROM b2 JOIN bgc g USING (prev, wd) JOIN ugc u USING (prev)
           CROSS JOIN voc v),
         a AS (SELECT doc_id, count(*) AS n_bigrams,
             CAST(sum(nll) AS BIGINT) AS nll_micro FROM j GROUP BY doc_id)
         SELECT doc_id, n_bigrams, nll_micro,
           round(exp(CAST(nll_micro AS DOUBLE)
             / (CAST(n_bigrams AS DOUBLE) * 1e6)), 6) AS ppl
         FROM a ORDER BY doc_id""",
    "t_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
           FROM documents),
         per AS (SELECT doc_id, ch, count(*) AS c FROM ch
           WHERE ch <> '' GROUP BY doc_id, ch),
         m AS (SELECT doc_id, ch, c,
             c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS clnc
           FROM per),
         a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(clnc) AS BIGINT) AS s, count(*) AS alphabet
           FROM m GROUP BY doc_id)
         SELECT doc_id, n, alphabet,
           round(CAST(CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
               * n - s AS DOUBLE)
             / (CAST(n AS DOUBLE) * 1e6) / ln(2.0), 6) AS entropy_bits
         FROM a ORDER BY doc_id""",
    "t_vocab_stats" ->
      """WITH toks AS (SELECT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) w
           FROM documents),
         freq AS (SELECT w, count(*) cnt FROM toks GROUP BY w),
         vocab AS (SELECT w, 1 AS in_vocab FROM freq
           ORDER BY cnt DESC, w LIMIT 100)
         SELECT t.doc_id, count(*) AS n_words,
           sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*) AS oov_rate,
           sum(f.cnt) * 1.0 / count(*) AS avg_word_freq
         FROM toks t JOIN freq f USING (w)
         LEFT JOIN vocab v USING (w)
         GROUP BY t.doc_id ORDER BY t.doc_id""",
    "t_gopher_filter" ->
      """WITH docs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w
           FROM documents),
         base AS (SELECT doc_id,
             len(w)::BIGINT AS n_words,
             list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w)
               AS mean_word_len,
             len(list_filter(w, x -> x IN ('the','and','of','to','in',
               'a','is','that','for','it')))::BIGINT AS stop_hits,
             len(list_distinct(w)) * 1.0 / len(w) AS distinct_ratio
           FROM docs),
         bi AS (SELECT doc_id, unnest(list_transform(
             range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
           FROM docs WHERE len(w) >= 2),
         gc AS (SELECT doc_id, g, count(*) c FROM bi GROUP BY 1, 2),
         dup AS (SELECT doc_id, 1.0 - count(*) * 1.0 / sum(c)
             AS dup_bigram_frac FROM gc GROUP BY doc_id),
         j AS (SELECT b.*, coalesce(d.dup_bigram_frac, 0.0)
             AS dup_bigram_frac
           FROM base b LEFT JOIN dup d USING (doc_id))
         SELECT doc_id, n_words, mean_word_len, stop_hits,
           distinct_ratio, dup_bigram_frac,
           (n_words >= 20 AND n_words <= 10000) AS ok_words,
           (mean_word_len >= 2.0 AND mean_word_len <= 10.0) AS ok_mwl,
           (stop_hits >= 2) AS ok_stops,
           (distinct_ratio >= 0.2) AS ok_distinct,
           (dup_bigram_frac <= 0.6) AS ok_rep,
           ((n_words >= 20 AND n_words <= 10000)
             AND (mean_word_len >= 2.0 AND mean_word_len <= 10.0)
             AND (stop_hits >= 2) AND (distinct_ratio >= 0.2)
             AND (dup_bigram_frac <= 0.6)) AS keep
         FROM j ORDER BY doc_id""",
    "t_line_dedup" ->
      """WITH docs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w
           FROM documents),
         segs AS (SELECT doc_id, idx,
             array_to_string(w[idx*3+1 : idx*3+3], ' ') AS seg
           FROM (SELECT doc_id, w,
                   unnest(range(0, (len(w)+2)//3)) AS idx
                 FROM docs WHERE len(w) >= 1)),
         boiler AS (SELECT seg FROM segs
           GROUP BY seg HAVING count(DISTINCT doc_id) >= 3),
         kept AS (SELECT s.* FROM segs s ANTI JOIN boiler b USING (seg)),
         totals AS (SELECT doc_id, count(*)::BIGINT AS n_segs
           FROM segs GROUP BY doc_id),
         ka AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
             md5(string_agg(seg, ' ' ORDER BY idx)) AS kept_fp
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id, t.n_segs,
           coalesce(k.n_kept, 0)::BIGINT AS n_kept,
           (t.n_segs - coalesce(k.n_kept, 0)) * 1.0 / t.n_segs
             AS removed_frac,
           coalesce(k.kept_fp, md5('')) AS kept_fp
         FROM (SELECT doc_id FROM documents) d
         JOIN totals t USING (doc_id)
         LEFT JOIN ka k USING (doc_id)
         ORDER BY d.doc_id""",
    "t_dsir_weights" ->
      """WITH docs AS (SELECT doc_id, lang,
             string_split_regex(trim(text), '\s+') w
           FROM documents),
         bi AS (SELECT doc_id, lang,
             array_to_string(w[i : i+1], ' ') AS g
           FROM (SELECT doc_id, lang, w, unnest(range(1, len(w))) AS i
                 FROM docs WHERE len(w) >= 2)),
         feat AS (SELECT doc_id, lang,
             ('0x' || substr(md5(g), 1, 8))::BIGINT % 256 AS f FROM bi),
         per_doc AS (SELECT doc_id, f, count(*)::BIGINT c
           FROM feat GROUP BY 1, 2),
         raw AS (SELECT f, count(*)::BIGINT cr,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT ct
           FROM feat GROUP BY f),
         tot AS (SELECT count(*)::BIGINT nr,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT nt
           FROM feat),
         ratios AS (SELECT f,
             (((ct + 1) * (nr + 256) * 1000000)
               // ((cr + 1) * (nt + 256)))::BIGINT AS ratio_micro
           FROM raw, tot)
         SELECT p.doc_id, sum(c)::BIGINT AS n_bigrams,
           sum(c * ratio_micro)::BIGINT AS weight_micro,
           (sum(c * ratio_micro) // sum(c))::BIGINT AS w_per_bigram
         FROM per_doc p JOIN ratios USING (f)
         GROUP BY p.doc_id ORDER BY p.doc_id""",
    "t_pii" ->
      """WITH synth AS (
           SELECT doc_id, text
             || CASE WHEN doc_id % 2 = 0
                  THEN ' contact user' || doc_id || '@example.com now'
                  ELSE '' END
             || CASE WHEN doc_id % 3 = 0
                  THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
                    || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                  ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                  THEN ' id ' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
                    || '-' || lpad((doc_id % 100)::VARCHAR, 2, '0')
                    || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                  ELSE '' END AS text2
           FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(text2,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
             AS n_emails,
           len(regexp_extract_all(text2,
             '\b\d{3}-\d{3}-\d{4}\b'))::BIGINT AS n_phones,
           len(regexp_extract_all(text2,
             '\b\d{3}-\d{2}-\d{4}\b'))::BIGINT AS n_ssn,
           md5(regexp_replace(regexp_replace(regexp_replace(text2,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
             '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g')) AS scrubbed_fp
         FROM synth ORDER BY doc_id""",
    "t_decontaminate" ->
      """WITH words AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w
            FROM documents),
          sh0 AS (SELECT DISTINCT doc_id,
              unnest(list_transform(range(1, greatest(len(w)-1, 1)),
                i -> array_to_string(list_slice(w, i, i+2), ' '))) AS s
            FROM words WHERE len(w) >= 3),
          bench AS (SELECT DISTINCT s FROM sh0 WHERE doc_id % 50 = 0),
          train AS (SELECT doc_id, s FROM sh0 WHERE doc_id % 50 <> 0),
          tot AS (SELECT doc_id, count(*) n FROM train GROUP BY 1),
          hit AS (SELECT doc_id, count(*) h
            FROM train JOIN bench USING (s) GROUP BY 1)
          SELECT d.doc_id, COALESCE(n, 0)::BIGINT AS n_shingles,
            COALESCE(h, 0)::BIGINT AS n_hits,
            COALESCE(h*1.0/n, 0.0) AS overlap,
            COALESCE(h*1.0/n >= 0.5, FALSE) AS contaminated
          FROM documents d LEFT JOIN tot USING (doc_id)
          LEFT JOIN hit USING (doc_id)
          WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""",
    "dedup_exact" ->
      """SELECT min(doc_id) AS keeper, count(*) AS n_copies
         FROM (SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) fp
               FROM documents)
         GROUP BY fp ORDER BY keeper""",
    "dedup_ngram_jaccard" ->
      s"""WITH $shingleSqlCte,
          inter AS (SELECT a.doc_id da, b.doc_id db, count(*) i
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT da, db, i*1.0/(ca.n + cb.n - i) AS jaccard
          FROM inter JOIN cnt ca ON ca.doc_id = da
          JOIN cnt cb ON cb.doc_id = db
          WHERE i*1.0/(ca.n + cb.n - i) >= 0.7 ORDER BY da, db""",
    "t_containment" ->
      s"""WITH $shingleSqlCte,
          inter AS (SELECT a.doc_id da, b.doc_id db, count(*)::BIGINT i
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT da, db, i, i*1.0/ca.n AS c_ab, i*1.0/cb.n AS c_ba
          FROM inter JOIN cnt ca ON ca.doc_id = da
          JOIN cnt cb ON cb.doc_id = db
          WHERE greatest(i*1.0/ca.n, i*1.0/cb.n) >= 0.5
          ORDER BY da, db""",
    "dedup_minhash_lsh" ->
      s"""WITH $minhashPairsSqlCtes
          SELECT da, db, jaccard FROM verified ORDER BY da, db""",
    "dedup_tri_count" ->
      s"""WITH $minhashPairsSqlCtes,
          tri AS (SELECT e1.da a, e1.db b, e2.db c
            FROM verified e1
            JOIN verified e2 ON e2.da = e1.db
            JOIN verified e3 ON e3.da = e1.da AND e3.db = e2.db)
          SELECT doc_id, count(*)::BIGINT AS n_triangles FROM (
            SELECT a doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
          GROUP BY doc_id ORDER BY doc_id""",
    "dedup_cluster" ->
      s"""WITH RECURSIVE $minhashPairsSqlCtes,
          edges AS (SELECT da a, db b FROM verified
            UNION ALL SELECT db, da FROM verified),
          r(id, m) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.id, e.b FROM r JOIN edges e ON r.m = e.a),
          clus AS (SELECT id, LEAST(id, MIN(m)) AS cluster FROM r GROUP BY id)
          SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster,
            COALESCE(c.cluster, d.doc_id) = d.doc_id AS keep
          FROM documents d LEFT JOIN clus c ON c.id = d.doc_id
          ORDER BY d.doc_id""",
    "t_repetition" ->
      """WITH words AS (SELECT doc_id,
            string_split_regex(trim(text), '\s+') w FROM documents),
          bi AS (SELECT doc_id,
              unnest(list_transform(range(1, greatest(len(w), 1)),
                i -> array_to_string(list_slice(w, i, i+1), ' '))) g
            FROM words WHERE len(w) >= 2),
          gc AS (SELECT doc_id, g, count(*) c FROM bi GROUP BY 1, 2),
          st AS (SELECT doc_id, sum(c) total, count(*) ndist, max(c) maxc
            FROM gc GROUP BY 1)
          SELECT d.doc_id,
            COALESCE(1.0 - ndist*1.0/total, 0.0) AS dup_bigram_frac,
            COALESCE(maxc*1.0/total, 0.0) AS top_bigram_frac
          FROM documents d LEFT JOIN st USING (doc_id)
          ORDER BY d.doc_id""",
    "t_sample" ->
      """SELECT doc_id, lang,
         ('0x' || substr(md5('sample:' || doc_id), 1, 8))::BIGINT % 100
           AS bucket
         FROM documents
         WHERE ('0x' || substr(md5('sample:' || doc_id), 1, 8))::BIGINT % 100 < 20
         ORDER BY doc_id""",
    "dedup_simhash" -> s"$simhashSql ORDER BY doc_id",
    "dedup_simhash_pairs" ->
      s"""WITH sims AS ($simhashSql),
          bands AS (SELECT doc_id, simhash, k, (simhash >> (16*k)) & 65535 band
            FROM sims CROSS JOIN range(4) t(k)),
          cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db,
              a.simhash sa, b.simhash sb
            FROM bands a JOIN bands b ON a.k = b.k AND a.band = b.band
              AND a.doc_id < b.doc_id)
          SELECT da, db, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
          FROM cand WHERE bit_count(xor(sa, sb)) <= 3
          ORDER BY da, db""")

  /** the minhashPairs dataflow in DuckDB, ending in a `verified`
    * CTE (da, db, jaccard) — shared by the pair-list and cluster
    * oracles */
  private lazy val minhashPairsSqlCtes =
    s"""$shingleSqlCte,
        ab AS (SELECT doc_id,
            ('0x' || substr(md5(s), 1, 8))::BIGINT a,
            ('0x' || substr(md5(s), 9, 8))::BIGINT b FROM sh),
        mh AS (SELECT doc_id, i, min(a + i*b) h
          FROM ab CROSS JOIN range(12) t(i) GROUP BY doc_id, i),
        sig AS (SELECT doc_id, array_agg(h ORDER BY i) hs FROM mh GROUP BY 1),
        bands AS (SELECT doc_id, b,
            md5(hs[3*b+1]::VARCHAR || '|' || hs[3*b+2]::VARCHAR ||
                '|' || hs[3*b+3]::VARCHAR) bkey
          FROM sig CROSS JOIN range(4) t(b)),
        cand AS (SELECT DISTINCT x.doc_id da, y.doc_id db FROM bands x
          JOIN bands y ON x.b = y.b AND x.bkey = y.bkey
            AND x.doc_id < y.doc_id),
        inter AS (SELECT da, db, count(*) i FROM cand
          JOIN sh a ON a.doc_id = da JOIN sh b ON b.doc_id = db AND b.s = a.s
          GROUP BY 1, 2),
        verified AS (SELECT da, db, i*1.0/(ca.n + cb.n - i) AS jaccard
          FROM inter JOIN cnt ca ON ca.doc_id = da
          JOIN cnt cb ON cb.doc_id = db
          WHERE i*1.0/(ca.n + cb.n - i) >= 0.7)"""

  // bit 63 must be the two's-complement sign value, not `1 << 63`:
  // DuckDB raises an overflow error on the shift the first time any
  // doc's bit-63 majority is positive (the engine's `lit(1L << 63)`
  // IS Long.MinValue, so summing the negative literal matches it
  // exactly; the band extraction masks with & 65535, which agrees
  // under arithmetic and logical shifts alike)
  private lazy val simhashSql =
    """SELECT doc_id,
       CAST(SUM(CASE WHEN v <= 0 THEN 0
                     WHEN j = 63 THEN -9223372036854775807 - 1
                     ELSE (1::BIGINT << j) END)
         AS BIGINT) AS simhash
       FROM (
         SELECT doc_id, j, SUM(bit*2 - 1) v FROM (
           SELECT doc_id, j,
             CAST(floor((strpos('0123456789abcdef',
               substr(md5(w), (j//4)+1, 1)) - 1)
               / power(2, 3 - j % 4)) AS BIGINT) % 2 AS bit
           FROM (SELECT DISTINCT doc_id,
                   unnest(string_split_regex(trim(text), '\s+')) w
                 FROM documents)
           CROSS JOIN range(64) t(j))
         GROUP BY doc_id, j)
       GROUP BY doc_id"""
}
