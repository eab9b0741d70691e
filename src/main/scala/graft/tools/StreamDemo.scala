package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession
import graft.model.{EgdmCodec, Entity}
import graft.store.GraphStore
import graft.streaming.EventStreams

/** Example CLI: streaming EGDM-NDJSON ingest → graph store via
  * foreachBatch micro-batch merge.
  * Usage: runMain graft.tools.StreamDemo <ndjson-dir> <store-dir>
  * (with no args, stages a 2-batch demo input).
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()

    val (inDir, storeDir) =
      if (args.length >= 2) (args(0), args(1))
      else {
        val in = Files.createTempDirectory("graft-stream-in")
        Files.writeString(in.resolve("b0.ndjson"), EgdmCodec.toJsonLine(
          Entity("urn:s1").withProp("urn:p#name", "one")
            .withRef("urn:r#next", "urn:s2")))
        Files.writeString(in.resolve("b1.ndjson"), EgdmCodec.toJsonLine(
          Entity("urn:s2").withProp("urn:p#name", "two")))
        (in.toString, Files.createTempDirectory("graft-stream-store").toString)
      }

    val store = new GraphStore(storeDir, spark, numBuckets = 2)
    val q = EventStreams
      .entitySync(spark, inDir, store, "stream", "Thing")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(300000)

    println(s"VERSION=${store.currentVersion}")
    println("=== nodes ===")
    store.nodes.orderBy("gid").show(truncate = false)
    println("=== edges ===")
    store.edges.orderBy("src").show(truncate = false)
    spark.stop()
  }
}
