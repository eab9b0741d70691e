package graft

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Arbitrary, Gen}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.UriFunctions
import graft.model.{EgdmCodec, Entity, PV}
import graft.ops.GraphDataset
import graft.store.GraphStore

/** Property tests (SURVEY §5.3): stripPrefix laws vs the Go
  * definition, EGDM codec round-trip, and merge algebra
  * (idempotence; full-sync ≡ delete-all + incremental).
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private val segment: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val uriGen: Gen[String] = for {
    scheme <- Gen.oneOf("http://", "urn:", "")
    parts <- Gen.nonEmptyListOf(segment)
    sep <- Gen.oneOf("/", "#", "")
  } yield scheme + parts.mkString(sep)

  test("sortable-key laws: ordering, bucket conservativeness, ulp " +
      "widening (seeded brute force)") {
    import graft.store.SearchIndexes
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(42)
    def cmp(a: String, b: String): Int =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

    // (1) DoubleSortBits: numeric order == unsigned-bits order ==
    // lexical order of the fixed-width hex rendering — across signs,
    // magnitudes, subnormals, zeros, infinities
    val doubles = Seq(0.0, -0.0, 1.0, -1.0, Double.MinPositiveValue,
      -Double.MinPositiveValue, Double.MaxValue, Double.MinValue,
      Double.PositiveInfinity, Double.NegativeInfinity) ++
      (1 to 3000).map(_ => rnd.nextLong().toDouble / (rnd.nextInt(9) + 1)) ++
      (1 to 1000).map(_ => math.exp(rnd.nextGaussian() * 80) *
        (if (rnd.nextBoolean()) 1 else -1))
    for (Seq(a, b) <- doubles.combinations(2).take(200000)) {
      val (ka, kb) = (SearchIndexes.encodeSortableValue(a).get,
        SearchIndexes.encodeSortableValue(b).get)
      if (a < b) assert(cmp(ka, kb) < 0, s"$a < $b but $ka >= $kb")
      else if (a > b) assert(cmp(ka, kb) > 0, s"$a > $b but $ka <= $kb")
      else assert(cmp(ka, kb) == 0 || (a == 0.0 && b == 0.0),
        s"$a == $b but keys differ: $ka $kb")
    }

    // (2) range-bucket MONOTONICITY (the conservativeness the route
    // relies on): lo ≤ v ≤ hi ⇒ bucket(lo) ≤ bucket(v) ≤ bucket(hi),
    // for random boundary sets over random key populations
    def randKey(): String =
      SearchIndexes.encodeSortableValue(
        if (rnd.nextBoolean()) rnd.nextInt(10000).toDouble
        else rnd.alphanumeric.take(rnd.nextInt(8) + 1).mkString).get
    (1 to 50).foreach { _ =>
      val bounds = Seq.fill(rnd.nextInt(15) + 1)(randKey())
        .distinct.sortWith(cmp(_, _) < 0)
      val vals = Seq.fill(200)(randKey())
      // encode and bucket each value once per round, not per triple;
      // the failure message is built only on failure (an assert clue
      // is evaluated on every call, ~10^8 of them here)
      val keys = vals.map(UTF8String.fromString).toArray
      val bkt = vals.map(SearchIndexes.rangeBucketOf(bounds, _)).toArray
      val ix = vals.indices
      for (v <- ix; lo <- ix if keys(lo).compareTo(keys(v)) <= 0;
           hi <- ix if keys(v).compareTo(keys(hi)) <= 0) {
        val (bl, bv, bh) = (bkt(lo), bkt(v), bkt(hi))
        if (!(bl <= bv && bv <= bh)) fail(s"bucket not monotone: " +
          s"${vals(lo)}→$bl, ${vals(v)}→$bv, ${vals(hi)}→$bh")
      }
    }

    // (3) prefix-span exactness: every value with prefix p lands in
    // [count(bd ≤ lo), count(bd ≤ lo ∨ bd startsWith lo)] — the
    // pxPrefixKeys identity (no successor-string construction)
    (1 to 50).foreach { _ =>
      val words = Seq.fill(300)("s:" +
        rnd.alphanumeric.take(rnd.nextInt(10) + 1).mkString)
      val bounds = Seq.fill(rnd.nextInt(10) + 1)(
        words(rnd.nextInt(words.size))).distinct.sortWith(cmp(_, _) < 0)
      val p = words(rnd.nextInt(words.size))
        .take(rnd.nextInt(4) + 3) // "s:" + ≥1 char
      val bLo = SearchIndexes.rangeBucketOf(bounds, p)
      val bHi = bounds.count(bd => cmp(bd, p) <= 0 || bd.startsWith(p))
      words.filter(_.startsWith(p)).foreach { v =>
        val bv = SearchIndexes.rangeBucketOf(bounds, v)
        assert(bv >= bLo && bv <= bHi,
          s"prefix span miss: $v→$bv outside [$bLo,$bHi] for '$p'")
      }
    }

    // (4) ulp widening: a stored LONG's sortable key is never excluded
    // by the widened probe bound of a long threshold it exceeds —
    // even past 2^53 where long→double rounds
    (1 to 20000).foreach { _ =>
      val t = rnd.nextLong()
      val l = rnd.nextLong()
      if (l > t) {
        val stored = SearchIndexes.encodeSortableValue(l).get
        val probeLo =
          SearchIndexes.encodeSortableValue(math.nextDown(t.toDouble)).get
        assert(cmp(stored, probeLo) >= 0,
          s"stored $l excluded by widened bound of $t")
      }
    }
  }

  test("stripPrefix: Scala twin matches Go semantics on edge cases") {
    // direct transliteration of /root/reference/neo4j.go:130-138 checks
    assert(UriFunctions.stripPrefixScala("http://a/b#c") == "c")
    assert(UriFunctions.stripPrefixScala("http://a/b") == "b")
    assert(UriFunctions.stripPrefixScala("plain") == "plain")
    assert(UriFunctions.stripPrefixScala("a#b/c") == "b/c") // # wins first
    assert(UriFunctions.stripPrefixScala("x#") == "")
    assert(UriFunctions.stripPrefixScala("x/") == "")
  }

  test("stripPrefix: composed Column, native Expression, and Scala twin all agree") {
    val uris = (Gen.listOfN(200, uriGen).sample.get ++
      Seq("a#b/c", "x#", "y/", "", "héllo/wörld#ünïcode", "日本#語")).distinct
    val df = uris.toDF("uri")
      .withColumn("composed",
        UriFunctions.stripPrefix(org.apache.spark.sql.functions.col("uri")))
      .withColumn("native",
        graft.functions.StripPrefix(org.apache.spark.sql.functions.col("uri")))
    val got = df.collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    uris.foreach { u =>
      val expected = UriFunctions.stripPrefixScala(u)
      assert(got(u)._1 == expected, s"composed: uri=$u")
      assert(got(u)._2 == expected, s"native: uri=$u")
    }
  }

  test("dot_product: native Expression is bit-identical to the HOF fold") {
    import org.apache.spark.sql.functions._
    val vecs = Gen.listOfN(100,
      Gen.listOfN(16, Gen.chooseNum(-10.0, 10.0))).sample.get
    val pairs = vecs.zip(vecs.reverse)
    val df = pairs.toDF("a", "b")
      .withColumn("hof", aggregate(zip_with(col("a"), col("b"),
        (x, y) => x * y), lit(0.0), (acc, v) => acc + v))
      .withColumn("native", graft.functions.DotProduct(col("a"), col("b")))
    df.collect().foreach { r =>
      // bit-identical, not approximately equal: same fold order
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
    // mismatched lengths truncate to the shorter side
    val m = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0))).toDF("a", "b")
      .select(graft.functions.DotProduct(col("a"), col("b")))
      .collect().head.getDouble(0)
    assert(m == 14.0)
  }

  test("dot_product registers as a SQL function and stays in codegen") {
    graft.functions.DotProduct.register(spark)
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head
    assert(r.getDouble(0) == 11.0)
    // the plan containing the native expression still whole-stage-codegens
    // (a local Seq would constant-fold to LocalTableScan — use range)
    import org.apache.spark.sql.functions.{array, col}
    val plan = spark.range(10)
      .select(array(col("id").cast("double")).as("a"),
        array((col("id") + 1).cast("double")).as("b"))
      .select(graft.functions.DotProduct(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    // the "*(1)" stage marker = the Project runs inside WholeStageCodegen
    assert(plan.contains("*(1) Project [dot_product"), plan)
  }

  test("strip_prefix registers as a SQL function (SparkSessionExtensions path)") {
    graft.functions.StripPrefix.register(spark)
    val r = spark.sql(
      "SELECT strip_prefix('http://a/b#c') AS x, strip_prefix('p/q') AS y")
      .collect().head
    assert(r.getString(0) == "c" && r.getString(1) == "q")
  }

  private val listElemGen: Gen[Any] = Gen.oneOf(
    Gen.alphaNumStr.map(identity[Any]),
    Arbitrary.arbitrary[Long].map(identity[Any]),
    Arbitrary.arbitrary[Boolean].map(identity[Any]),
    Gen.chooseNum(-1e6, 1e6).map(identity[Any]))

  private val pvGen: Gen[PV] = Gen.oneOf(
    Gen.alphaNumStr.map(s => PV(s = Some(s))),
    Arbitrary.arbitrary[Long].map(l => PV(l = Some(l))),
    Arbitrary.arbitrary[Boolean].map(b => PV(b = Some(b))),
    Gen.chooseNum(-1e6, 1e6).map(d => PV(d = Some(d))),
    // MIXED-type list values — the round-trip law below requires the
    // per-element tags (PV.at) to survive the JSON round-trip, so a
    // re-parse distinguishes [1, true, 'x'] from ['1', 'true', 'x']
    Gen.nonEmptyListOf(listElemGen).map(xs => PV.of(xs.take(4))))

  private val entityGen: Gen[Entity] = for {
    id <- segment.map("urn:e:" + _)
    deleted <- Gen.oneOf(true, false)
    props <- Gen.mapOfN(3, Gen.zip(segment.map("urn:p#" + _), pvGen))
    refs <- Gen.mapOfN(2,
      Gen.zip(segment.map("urn:r#" + _),
        Gen.nonEmptyListOf(segment.map("urn:t:" + _)).map(_.take(2))))
  } yield Entity(id, deleted, props, refs)

  test("EGDM codec round-trips generated entities") {
    Gen.listOfN(100, entityGen).sample.get.foreach { e =>
      val back = EgdmCodec.parseLine(EgdmCodec.toJsonLine(e))
      assert(back.id == e.id)
      assert(back.deleted == e.deleted)
      assert(back.props == e.props)
      assert(back.refs.view.mapValues(_.toList).toMap ==
        e.refs.view.mapValues(_.toList).toMap)
    }
  }

  test("typed list elements survive the EGDM round-trip verbatim") {
    import org.json4s.jackson.JsonMethods
    // the reference layer passes EGDM values through verbatim
    // (neo4j.go UpdateNodeQueryTemplate, SET n = item) — an entity
    // with "xs":[1,true,2.5,"x",null] must re-emit with the SAME
    // JSON types, not ["1","true","2.5","x",null]
    val line = """{"id":"urn:e1","deleted":false,""" +
      """"props":{"urn:p#xs":[1,true,2.5,"x",null]},"refs":{}}"""
    val e = EgdmCodec.parseLine(line)
    assert(e.props("urn:p#xs").at.contains("lbdsn"))
    val back = EgdmCodec.toJsonLine(e)
    assert(JsonMethods.parse(back) \ "props" ==
      JsonMethods.parse(line) \ "props")
  }

  private def freshStore(): GraphStore =
    new GraphStore(Memo.tempDir("graft-prop"), spark, 2)

  private def graphState(s: GraphStore): (Set[String], Set[(String, String, String)]) = {
    val ns = s.nodes.select("gid", "label", "source").collect()
      .map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}").toSet
    val es = s.edges.select("src", "dst", "relType").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    (ns, es)
  }

  test("flat-table source + NDJSON sink round-trip through a store") {
    import org.apache.spark.sql.functions._
    val nation = spark.read
      .parquet("/root/testdata/sf0.001/nation.parquet")
    val entities = graft.model.EgdmCodec.fromFlat(
      nation, idCol = "n_nationkey", idPrefix = "n:",
      propNs = "urn:tpch#",
      refCols = Map("n_regionkey" -> ("urn:tpch#in_region", "r:")))
    assert(entities.count() == 25)
    val store = freshStore()
    new GraphDataset(store, spark, "nations", "Nation")
      .fullSync(entities.collect().toSeq)
    assert(store.nodes.filter($"label" === "Nation").count() == 25)
    assert(store.edges.filter($"relType" === "in_region").count() == 25)
    // export: read the slice back as EGDM NDJSON and re-parse
    val out = Memo.tempDir("graft-egdm-out") + "/x"
    graft.model.EgdmCodec.write(entities, out)
    val back = graft.model.EgdmCodec.read(spark, out)
    assert(back.count() == 25)
    assert(back.collect().map(_.id).sorted.sameElements(
      entities.collect().map(_.id).sorted))
  }

  test("merge idempotence: replaying a batch leaves the graph unchanged") {
    val entities = Gen.listOfN(12, entityGen).sample.get
      .distinctBy(_.id)
    val store = freshStore()
    val ds = new GraphDataset(store, spark, "people", "Person")
    ds.incremental(entities)
    val s1 = graphState(store)
    ds.incremental(entities)
    assert(graphState(store) == s1)
  }

  test("full-sync ≡ delete-all + same content (replacement law)") {
    val gen1 = Gen.listOfN(10, entityGen).sample.get.distinctBy(_.id)
      .map(_.copy(deleted = false))
    val gen2 = Gen.listOfN(10, entityGen).sample.get.distinctBy(_.id)
      .map(_.copy(deleted = false))

    val a = freshStore()
    val dsA = new GraphDataset(a, spark, "people", "Person")
    dsA.fullSync(gen1)
    dsA.fullSync(gen2)

    val b = freshStore()
    val dsB = new GraphDataset(b, spark, "people", "Person")
    dsB.fullSync(gen2) // fresh load of gen2 only

    // labeled slice must be identical; stubs may differ (gen1's stub
    // targets survive in A — the reference's stub-survival semantics)
    def labeled(s: GraphStore) = s.nodes
      .filter($"label" === "Person").select("gid").collect()
      .map(_.getString(0)).toSet
    assert(labeled(a) == labeled(b))
    def edges(s: GraphStore) = s.edges
      .select("src", "dst", "relType").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(edges(a) == edges(b))
  }
}
