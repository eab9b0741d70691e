package graft.model

import org.apache.spark.sql.{Dataset, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** EGDM-NDJSON codec: one JSON object per line, shaped per the
  * reference's entity model (/root/reference/layer_test.go:437-443):
  * `{id, deleted, props: {uri: scalar}, refs: {uri: string|[string]}}`.
  * Ref values are coerced string → [string]; any other ref type is an
  * error, matching /root/reference/neo4j.go:199-208.
  */
object EgdmCodec {

  def parseLine(line: String): Entity = parse(JsonMethods.parse(line))

  /** one already-parsed EGDM entity object */
  def parse(root: JValue): Entity = {
    val id = root \ "id" match {
      case JString(s) => s
      case _ => throw new IllegalArgumentException(
        s"entity missing id: ${JsonMethods.compact(JsonMethods.render(root))}")
    }
    val deleted = root \ "deleted" match {
      case JBool(b) => b
      case _        => false
    }
    val props = root \ "props" match {
      case JObject(fields) => fields.map { case (k, v) =>
        k -> (v match {
          case JString(s)  => PV(s = Some(s))
          case JInt(i)     => PV(l = Some(i.toLong))
          case JLong(i)    => PV(l = Some(i))
          case JDouble(d)  => PV(d = Some(d))
          case JDecimal(d) => PV(d = Some(d.toDouble))
          case JBool(b)    => PV(b = Some(b))
          case JNull       => PV()
          // list-valued property: scalar elements store canonically,
          // with a per-element type tag (PV.at) so toJsonLine re-emits
          // the ORIGINAL JSON types — the reference layer passes EGDM
          // values through verbatim (neo4j.go UpdateNodeQueryTemplate,
          // SET n = item), so [1, true] must survive as [1, true]
          case JArray(items) =>
            val typed = items.map {
              case JString(s)  => (s, 's')
              case JInt(i)     => (i.toString, 'l')
              case JLong(i)    => (i.toString, 'l')
              case JDouble(d)  => (d.toString, 'd')
              case JDecimal(d) => (d.toDouble.toString, 'd')
              case JBool(b)    => (b.toString, 'b')
              case JNull       => (null, 'n')
              case other => throw new IllegalArgumentException(
                s"unsupported list element for $k: $other")
            }
            PV(a = Some(typed.map(_._1)),
              at = Some(typed.map(_._2).mkString))
          case other => throw new IllegalArgumentException(
            s"unsupported property value for $k: $other")
        })
      }.toMap
      case _ => Map.empty[String, PV]
    }
    val refs = root \ "refs" match {
      case JObject(fields) => fields.map { case (k, v) =>
        k -> (v match {
          case JString(s) => Seq(s) // string → [string] (neo4j.go:201-203)
          case JArray(items) => items.map {
            case JString(s) => s
            case other => throw new IllegalArgumentException(
              s"invalid reference target in $k: $other") // neo4j.go:206-207
          }
          case other => throw new IllegalArgumentException(
            s"invalid reference value for $k: $other")
        })
      }.toMap
      case _ => Map.empty[String, Seq[String]]
    }
    Entity(id, deleted, props, refs)
  }

  def toJsonLine(e: Entity): String = {
    import org.json4s.JsonDSL._
    val props = JObject(e.props.toList.map { case (k, pv) =>
      k -> (pv match {
        case PV(Some(s), _, _, _, _, _) => JString(s)
        case PV(_, Some(l), _, _, _, _) => JLong(l)
        case PV(_, _, Some(d), _, _, _) => JDouble(d)
        case PV(_, _, _, Some(b), _, _) => JBool(b)
        case PV(_, _, _, _, Some(xs), at) =>
          // re-emit each element under its recorded type tag; untagged
          // (legacy) elements stay strings
          JArray(xs.toList.zipWithIndex.map { case (x, i) =>
            if (x == null) JNull
            else at.flatMap(_.lift(i)).getOrElse('s') match {
              case 'l' => JLong(x.toLong)
              case 'd' => JDouble(x.toDouble)
              case 'b' => JBool(x.toBoolean)
              case _   => JString(x)
            }
          })
        case _ => JNull
      })
    })
    val refs = JObject(e.refs.toList.map { case (k, ts) =>
      k -> JArray(ts.toList.map(JString(_)))
    })
    JsonMethods.compact(JsonMethods.render(
      ("id" -> e.id) ~ ("deleted" -> e.deleted) ~
        ("props" -> props) ~ ("refs" -> refs)))
  }

  /** Distributed NDJSON read → typed entity stream. */
  def read(spark: SparkSession, path: String): Dataset[Entity] = {
    import spark.implicits._
    spark.read.textFile(path).filter(_.trim.nonEmpty).map(parseLine)
  }

  /** Distributed NDJSON write — the EGDM export sink. */
  def write(entities: Dataset[Entity], path: String): Unit = {
    import entities.sparkSession.implicits._
    entities.map(toJsonLine).write.mode("overwrite").text(path)
  }

  /** Flat-table (CSV/JDBC/parquet row) → entity mapper: `idCol`
    * becomes the gid (prefixed), every other column becomes a property
    * under `propNs`, and `refCols` map FK columns to reference URIs
    * with a target-gid prefix. The relational on-ramp for graph
    * ingest.
    */
  def fromFlat(df: org.apache.spark.sql.DataFrame, idCol: String,
      idPrefix: String, propNs: String,
      refCols: Map[String, (String, String)] = Map.empty): Dataset[Entity] = {
    import df.sparkSession.implicits._
    val cols = df.columns
    df.map { row =>
      val id = idPrefix + String.valueOf(row.get(row.fieldIndex(idCol)))
      val props = cols.filterNot(c => c == idCol || refCols.contains(c))
        .flatMap { c =>
          Option(row.get(row.fieldIndex(c))).map(v => (propNs + c) -> PV.of(v))
        }.toMap
      val refs = refCols.flatMap { case (c, (refUri, targetPrefix)) =>
        Option(row.get(row.fieldIndex(c)))
          .map(v => refUri -> Seq(targetPrefix + String.valueOf(v)))
      }
      Entity(id, deleted = false, props, refs)
    }
  }
}
