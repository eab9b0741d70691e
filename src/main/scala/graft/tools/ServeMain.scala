package graft.tools

import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.model.LayerConfig
import graft.service.GraftService

/** Service entry point — the reference's cmd/main.go analog
  * (/root/reference/cmd/main.go:10-18): boot from a JSON config file
  * (or a built-in demo config), serve the UDA-shaped REST API.
  * Usage: runMain graft.tools.ServeMain [configFile] [storeDir] [port]
  */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val configJson = args.headOption
      .map(p => new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))
      .getOrElse(
        """{
          "layer_config": {"port": "8095", "service_name": "graft"},
          "system_config": {"system_type": "spark", "endpoint": "local",
                            "username": "-", "password": "-"},
          "dataset_definitions": [
            {"name": "people", "source_config": {"label": "Person", "batch_size": 1000}},
            {"name": "companies", "source_config": {"label": "Company", "batch_size": 1000}}
          ]
        }""")
    val config = LayerConfig.fromJson(configJson).fold(
      m => { System.err.println(s"config error: $m"); sys.exit(2) },
      identity)
    val storeDir = args.lift(1).getOrElse(
      Files.createTempDirectory("graft-serve").toString)
    val port = args.lift(2).map(_.toInt)
      .orElse(Some(config.layer.port.toInt)).get

    val spark = GraftSession()

    // passing the config path enables the reference's refresh loop
    // (layer.go:72): dataset definitions hot-reload on the interval
    val svc = new GraftService(spark, config, storeDir,
      configFile = args.headOption.map(Paths.get(_)))
    val bound = svc.start(port)
    println(s"GRAFT_SERVING port=$bound store=$storeDir")
    Thread.currentThread().join() // serve until killed
  }
}
