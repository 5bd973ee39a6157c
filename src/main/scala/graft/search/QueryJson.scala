package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Executes the reference's POST /v1/search JSON document verbatim
  * (README "A Little More Complex Search",
  * `models/egraph_v1_search_model.erl:176-205`):
  *
  * ```json
  * {"query": {"type": "index",
  *   "conditions": {
  *     "any":     [{"key": …|[lo,hi], "key_type": t, "index_name": n}, …],
  *     "filters": [{"key": …|[lo,hi], "key_type": t,
  *                  "index_json_path": ["details", …]}, …]},
  *   "selected_paths": {"name": ["details", …], …}}}
  * ```
  *
  * Semantics: `any` is an OR of typed index probes (exact or range)
  * producing candidate node keys; `filters` AND JSON-path predicates
  * over the fetched details; `selected_paths` projects the output.
  * A user of the reference runs their existing query documents
  * unchanged.
  *
  * Plan shape: each probe prunes the indexes frame on
  * (index_name, key_type) — one partition directory in the stored
  * layout — the candidate keys semi-join the nodes, and filters/
  * projection evaluate on the surviving rows only.
  */
object QueryJson {

  final case class IndexCond(key: JValue, keyType: String, indexName: String)
  final case class PathCond(key: JValue, keyType: String, path: Seq[String])
  final case class IndexQuery(any: Seq[IndexCond], filters: Seq[PathCond],
      selectedPaths: Map[String, Seq[String]])

  def parse(json: String): IndexQuery = {
    val q = JsonMethods.parse(json) \ "query"
    val conds = q \ "conditions"
    val any = (conds \ "any") match {
      case JArray(xs) => xs.map { c =>
        IndexCond(c \ "key", str(c \ "key_type"), str(c \ "index_name"))
      }
      case _ => Nil
    }
    val filters = (conds \ "filters") match {
      case JArray(xs) => xs.map { c =>
        PathCond(c \ "key", str(c \ "key_type"), strSeq(c \ "index_json_path"))
      }
      case _ => Nil
    }
    val selected = (q \ "selected_paths") match {
      case JObject(fields) => fields.map { case (n, v) => n -> strSeq(v) }.toMap
      case _ => Map.empty[String, Seq[String]]
    }
    IndexQuery(any, filters, selected)
  }

  private def str(v: JValue): String = v match {
    case JString(s) => s
    case other => other.values.toString
  }

  private def strSeq(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.map(str)
    case _ => Nil
  }

  /** Typed comparison of a string-valued column against the JSON
    * condition key: scalar = equality, two-element array = inclusive
    * range. Numeric types compare after try_cast (malformed entries
    * are non-matches, like the reference's per-type index tables). */
  private def cond(raw: Column, keyType: String, key: JValue): Column = {
    def typed(c: Column): Column = keyType match {
      case "int" => c.try_cast("long")
      case "double" => c.try_cast("double")
      case "date" => c.try_cast("date")
      case "datetime" => c.try_cast("timestamp")
      case _ => c
    }
    def l(v: JValue): Column = v match {
      case JString(s) => typed(lit(s))
      case JInt(i) => lit(i.toLong)
      case JLong(i) => lit(i)
      case JDouble(d) => lit(d)
      case JDecimal(d) => lit(d.toDouble)
      case JBool(b) => lit(b)
      case other => lit(other.values.toString)
    }
    key match {
      case JArray(lo :: hi :: Nil) => typed(raw).between(l(lo), l(hi))
      case scalar => typed(raw) === l(scalar)
    }
  }

  /** JSON path over the node row: a leading "details" element
    * addresses into the details JSON column; a bare column name
    * addresses the column itself. */
  private def pathCol(path: Seq[String]): Column = path match {
    case Seq("details", rest @ _*) if rest.nonEmpty =>
      get_json_object(col("details"), "$." + rest.mkString("."))
    case Seq(one) => col(one)
    case _ => col(path.mkString("."))
  }

  /** Run a parsed query against (nodes, indexes) frames — the
    * whole-query plan the reference executes per HTTP POST. */
  def run(nodes: DataFrame, indexes: DataFrame, q: IndexQuery): DataFrame = {
    require(q.any.nonEmpty, "conditions.any must have at least one probe")
    // a store-loaded frame carries the typed key_num shadow column
    // (GraphStore.saveIndexes): numeric probes filter it directly, so
    // on a file-regime version the predicate pushes to the scan
    // un-cast-wrapped (a resident version filters its local rows)
    val numeric = Set("int", "double")
    val hasKeyNum = indexes.columns.contains("key_num")
    val keys = q.any.map { c =>
      val useNum = hasKeyNum && numeric(c.keyType)
      // key_num is already double: the try_cast inside cond() is a
      // no-op Catalyst removes, so the comparison pushes down; int
      // keys compare exactly in double within 2^53
      val probe =
        if (useNum) cond(col("key_num"), "double", c.key)
        else cond(col("key_str"), c.keyType, c.key)
      indexes.filter(col("index_name") === c.indexName &&
          col("key_type") === c.keyType && probe)
        .select(col("node_key").as("key_data"))
    }.reduce(_ unionByName _).distinct()
    val matched = nodes.join(keys, Seq("key_data"), "left_semi")
    val filtered = q.filters.foldLeft(matched) { (df, f) =>
      df.filter(cond(pathCol(f.path), f.keyType, f.key))
    }
    if (q.selectedPaths.isEmpty) filtered
    else filtered.select(col("key_data") +:
      q.selectedPaths.toSeq.sortBy(_._1).map { case (n, p) =>
        pathCol(p).as(n)
      }: _*)
  }

  def run(nodes: DataFrame, indexes: DataFrame, json: String): DataFrame =
    run(nodes, indexes, parse(json))
}
