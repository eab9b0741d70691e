package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SimHash banding invariants (round 8: 64-bit hash, 4×16-bit bands).
  * The oracle gate pins the VALUES; these specs pin the structural
  * guarantees the scale argument rests on.
  */
class TextOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  private val dir = "/root/testdata/sf0.001"

  test("simhash is a genuine 64-bit code, banded into 16-bit buckets") {
    import spark.implicits._
    val sims = queries.TextOps.defs("dedup_simhash")(spark, dir).cache()
    val n = sims.count()
    assert(n > 0)
    // high 32 bits are in use: with ~50 docs the probability that no
    // hash sets any of bits 32..63 is (2^-32)-ish — a 32-bit code
    // (the round-7 shape) fails this deterministically
    val hi = sims.filter(expr("shiftright(simhash, 32) <> 0")).count()
    assert(hi > 0, "no simhash uses bits 32..63 — code is not 64-bit")
    // each 16-bit band stays in [0, 65535] and actually exceeds the
    // 8-bit range somewhere (the round-7 byte-banding space)
    val bands = sims.select($"simhash",
        explode(sequence(lit(0), lit(3))).as("k"))
      .withColumn("band", expr("shiftright(simhash, 16*k) & 65535"))
    assert(bands.filter($"band" < 0 || $"band" > 65535).count() == 0)
    assert(bands.filter($"band" > 255).count() > 0,
      "all band values fit in 8 bits — banding is not 16-bit")
  }

  test("16-bit banding keeps perfect recall for hamming <= 3") {
    import spark.implicits._
    val sims = queries.TextOps.defs("dedup_simhash")(spark, dir).cache()
    // ground truth: brute-force all-pairs hamming (fixture-sized only)
    val a = sims.select($"doc_id".as("da"), $"simhash".as("sa"))
    val b = sims.select($"doc_id".as("db"), $"simhash".as("sb"))
    val brute = a.crossJoin(b).filter($"da" < $"db")
      .filter(expr("bit_count(sa ^ sb)") <= 3)
      .select($"da", $"db").as[(String, String)].collect().toSet
    val banded = queries.TextOps.defs("dedup_simhash_pairs")(spark, dir)
      .select($"da", $"db").as[(String, String)].collect().toSet
    // pigeonhole: <= 3 differing bits across 4 disjoint 16-bit bands
    // leaves >= 1 band identical, so banding misses NOTHING; the
    // exact-hamming verify also adds nothing
    assert(banded == brute)
  }

  test("dedup_cluster labels: driver union-find == distributed " +
      "min-label propagation") {
    import spark.implicits._
    // chain, isolated pair, cross-link back to the min — exercises
    // path compression and min-rooting
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (1L, 8L), (10L, 11L))
      .toDF("da", "db")
    val local = queries.TextOps.clusterLabels(pairs)
      .as[(Long, Long)].collect().toSet
    val dist = queries.TextOps.clusterLabels(pairs, cap = 0)
      .as[(Long, Long)].collect().toSet
    assert(local == dist)
    assert(local == Set((1L, 1L), (2L, 1L), (3L, 1L), (8L, 1L),
      (5L, 5L), (6L, 5L), (10L, 10L), (11L, 10L)))
    // empty pair graph: both paths yield an empty label table
    val none = Seq.empty[(Long, Long)].toDF("da", "db")
    assert(queries.TextOps.clusterLabels(none).count() == 0)
  }

  test("t_chunk: windows cover every token exactly once per stride, " +
      "overlap is W-S, tail clips") {
    import spark.implicits._
    val rows = queries.TextOps.defs("t_chunk")(spark, dir).collect()
    assert(rows.nonEmpty)
    val W = 64; val S = 48
    val byDoc = rows.groupBy(_.getLong(0))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", size(split(trim($"text"), "\\s+")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (doc, cs) =>
      val n = docs(doc)
      val sorted = cs.sortBy(_.getLong(1))
      // chunk_idx contiguous from 0; starts at stride multiples
      assert(sorted.map(_.getLong(1)).toSeq ==
        (0L until sorted.length.toLong))
      sorted.foreach { c =>
        assert(c.getLong(2) == c.getLong(1) * S)
        val expectLen = math.min(W, n - c.getLong(2).toInt)
        assert(c.getLong(3) == expectLen,
          s"$doc chunk ${c.getLong(1)}: n_tok ${c.getLong(3)} != $expectLen")
      }
      // full coverage: the last window reaches the document end
      val last = sorted.last
      assert(last.getLong(2) + last.getLong(3) == n)
      // a doc longer than W must produce > 1 chunk
      if (n > W) assert(sorted.length > 1)
    }
  }

  /** sequential reference BPE: word-count table → greedy leftmost
    * fold per word, R argmax rounds with (count DESC, pa, pb)
    * tie-breaks — the semantics the distributed closed-form rule
    * must reproduce exactly
    */
  private def bpeReference(texts: Seq[String], rounds: Int)
      : Seq[(Long, String, String, Long)] = {
    var words: Map[Vector[String], Long] = texts
      .flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .map { case (w, c) => (w.map(_.toString).toVector, c) }
    (1 to rounds).map { r =>
      val counts = collection.mutable.Map.empty[(String, String), Long]
      for ((s, c) <- words; i <- 0 until s.length - 1)
        counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + c
      val ((pa, pb), c) = counts.toSeq
        .minBy { case ((a, b), n) => (-n, a, b) }
      words = words.groupBy { case (s, _) =>
        // greedy leftmost fold
        s.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == pa && x == pb)
            acc.init :+ (pa + pb)
          else acc :+ x
        }
      }.map { case (s2, m) => (s2, m.values.sum) }
      (r.toLong, pa, pb, c)
    }
  }

  test("t_cdc_dedup survives one-word documents") {
    import spark.implicits._
    val tmp = Memo.tempDir("graft-cdc")
    val body = (1 to 40).map(i => s"w$i").mkString(" ")
    // doc 1 has ONE word: sequence(1, 0) steps downward and an
    // unguarded boundary HOF would evaluate element_at(w, 0) and throw
    Seq((1L, "solo", "en", "t", 4L),
        (2L, body, "en", "t", body.length.toLong),
        (3L, body, "en", "t", body.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$tmp/documents.parquet")
    val rows = queries.TextOps.defs("t_cdc_dedup")(spark, tmp).collect()
    // w1..w40 hit no content boundary, so docs 2 and 3 share exactly
    // one 40-word chunk; the one-word doc contributes nothing
    assert(rows.length == 1)
    assert(rows.head.getLong(1) == 2L && rows.head.getLong(2) == 40L)
  }

  test("t_bpe_train: closed-form merge rule == sequential greedy " +
      "fold, including identical-symbol runs") {
    import spark.implicits._
    // 'aaaaaa' forces the pa=pb run-parity branch: greedy gives
    // [aa,aa,aa], the naive string-replace fixpoint [aa,a,aa,a]
    val texts = Seq(
      "aaaaaa aab abab banana",
      "aaaa abba aab aab",
      "banana bandana aaaaaa",
      "abab abab cab")
    val got = queries.TextOps.bpeTrain(
        texts.toDF("text"), rounds = 4)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == bpeReference(texts, 4),
      s"distributed $got != reference ${bpeReference(texts, 4)}")
    // and the corpus entry agrees with the reference on real data
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = docs.select($"text").as[String].collect().toSeq
    val gotCorpus = queries.TextOps.defs("t_bpe_train")(spark, dir)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(gotCorpus == bpeReference(corpus, 4))
  }

  test("t_bpe_encode: vocabulary replay == per-word sequential " +
      "greedy encode, including identical-symbol runs") {
    import spark.implicits._
    val texts = Seq(
      "aaaaaa aab abab banana",
      "aaaa abba aab aab",
      "banana bandana aaaaaa",
      "abab abab cab")
    val merges = bpeReference(texts, 4)
      .map { case (_, pa, pb, _) => (pa, pb) }
    def encode(w: String): Vector[String] =
      merges.foldLeft(w.map(_.toString).toVector) { case (s, (pa, pb)) =>
        s.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == pa && x == pb)
            acc.init :+ (pa + pb)
          else acc :+ x
        }
      }
    val expected = texts.zipWithIndex.map { case (t, i) =>
      val ws = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
      val toks = ws.map(encode(_).size.toLong).sum
      val syms = ws.map(_.length.toLong).sum
      (i.toLong, ws.size.toLong, toks, syms - toks)
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = queries.TextOps.bpeEncode(docs, rounds = 4)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected, s"distributed $got != reference $expected")
  }
}
