package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.sources.GraphStore

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
  * Plan shape: on held resident store versions the probes resolve
  * to node keys through the versions' key indexes first, and only
  * those keys' node rows are gathered and filtered, with no Spark
  * job (`egraph_v1_search_model.erl`'s any-then-filters order).
  * Otherwise each probe prunes the indexes frame on
  * (index_name, key_type) — one partition directory in the stored
  * layout — and the candidate keys semi-join the nodes.
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

  // the key types cond() compares after a cast
  private val typedKeys = Set("int", "double", "date", "datetime")

  /** A JSON bound as the double Spark compares key_num against. */
  private def number(v: JValue): Option[Double] = v match {
    case JInt(i) => Some(i.toLong.toDouble)
    case JLong(i) => Some(i.toDouble)
    case JDouble(d) => Some(d)
    case JDecimal(d) => Some(d.toDouble)
    case _ => None
  }

  /** The index probe that finds every row `cond` keeps for this
    * condition, where one exists: an exact text key, or a numeric key
    * or range on key_num. Text ranges, keys cond() casts (date,
    * datetime, numeric without key_num) and literals it would cast
    * have none. */
  private def indexProbe(c: IndexCond, useNum: Boolean): Option[GraphStore.IndexProbe] =
    (c.key, useNum) match {
      case (JArray(lo :: hi :: Nil), true) =>
        for (l <- number(lo); h <- number(hi))
          yield GraphStore.RangeProbe(c.indexName, c.keyType, l, h)
      case (JArray(_), _) => None
      case (k, true) => number(k).map(x => GraphStore.RangeProbe(c.indexName, c.keyType, x, x))
      case (JString(k), false) if !typedKeys(c.keyType) =>
        Some(GraphStore.KeyProbe(c.indexName, c.keyType, k))
      case _ => None
    }

  /** Run a parsed query against (nodes, indexes) frames — the
    * whole-query plan the reference executes per HTTP POST. */
  def run(nodes: DataFrame, indexes: DataFrame, q: IndexQuery): DataFrame = {
    require(q.any.nonEmpty, "conditions.any must have at least one probe")
    // a store-loaded frame carries the typed key_num shadow column
    // (GraphStore.saveIndexes): numeric probes filter it directly, so
    // on a file-regime version the predicate pushes to the scan
    // un-cast-wrapped
    val numeric = Set("int", "double")
    val hasKeyNum = indexes.columns.contains("key_num")
    val probes = q.any.map { c =>
      val useNum = hasKeyNum && numeric(c.keyType)
      // key_num is already double: the try_cast inside cond() is a
      // no-op Catalyst removes, so the comparison pushes down; int
      // keys compare exactly in double within 2^53
      val probe =
        if (useNum) cond(col("key_num"), "double", c.key)
        else cond(col("key_str"), c.keyType, c.key)
      (col("index_name") === c.indexName && col("key_type") === c.keyType && probe,
        indexProbe(c, useNum))
    }
    // held resident versions answer in the reference's order: the
    // probes resolve to keys on the driver, then only those keys' node
    // rows are gathered (no Spark job); any other frames, or a probe
    // the index cannot answer, take the semi-join plan
    val found = Option.when(probes.forall(_._2.nonEmpty))(probes.flatMap(_._2))
      .flatMap(GraphStore.withProbes(indexes, _))
      .flatMap(rows => GraphStore.withKeys(nodes, "key_data",
        rows.filter(probes.map(_._1).reduce(_ || _)).select("node_key")
          .collect().map(_.getString(0))))
    val matched = found.getOrElse {
      val keys = probes.map { case (p, _) =>
        indexes.filter(p).select(col("node_key").as("key_data"))
      }.reduce(_ unionByName _).distinct()
      nodes.join(keys, Seq("key_data"), "left_semi")
    }
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
