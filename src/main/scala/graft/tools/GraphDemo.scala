package graft.tools

import graft.GraftSession
import graft.model.{EgdmCodec, Entity}
import graft.ops.{GraphDataset, GraphRead}
import graft.store.GraphStore

/** Example CLI: EGDM-NDJSON → full sync → oracle query → resync.
  * Usage: runMain graft.tools.GraphDemo <ndjson-file> <store-dir>
  * Mirrors the reference's integration flow
  * (/root/reference/layer_test.go:76-231).
  */
object GraphDemo {
  def main(args: Array[String]): Unit = {
    val Array(ndjson, storeDir) = args
    val spark = GraftSession()

    val entities = EgdmCodec.read(spark, ndjson)
    println(s"INGESTED=${entities.count()}")
    val store = new GraphStore(storeDir, spark, numBuckets = 2)
    val ds = new GraphDataset(store, spark, "people", "Person")
    ds.fullSync(entities.collect().toSeq, syncId = "demo-1")

    println("=== nodes ===")
    store.nodes.orderBy("gid").show(truncate = false)
    println("=== edges ===")
    store.edges.orderBy("src", "dst").show(truncate = false)
    println("=== oracle query (layer_test.go:117) ===")
    GraphRead.collectRelationships(store, "Person", "people")
      .orderBy("gid").show(truncate = false)

    val renamed = Entity("http://data.sample.org/things/1")
      .withProp("http://data.sample.org/name", "John Doe")
    ds.fullSync(Seq(renamed))
    println("=== after resync (replacement semantics) ===")
    GraphRead.collectRelationships(store, "Person", "people")
      .orderBy("gid").show(truncate = false)
    println(s"STUBS_SURVIVE=${store.nodes.filter("label is null").count()}")

    try {
      EgdmCodec.parseLine("""{"id":"urn:x","refs":{"urn:r":42}}""")
      println("PROBE_BADREF=NO_ERROR")
    } catch { case e: Exception => println(s"PROBE_BADREF_ERR=${e.getMessage}") }

    val v1 = store.currentVersion
    ds.fullSync(Seq(renamed), syncId = "demo-1")
    println(s"VERSIONS=$v1->${store.currentVersion}")
    println("=== latest-only changes feed ===")
    GraphRead.changes(store, latestOnly = true).show(truncate = false)
    spark.stop()
  }
}
