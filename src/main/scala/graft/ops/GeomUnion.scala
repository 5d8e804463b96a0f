package graft.ops

import graft.geo.JtsGeo
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{collect_list, sort_array, udf}

/** Per-group geometry union (SURVEY.md A2/G10): the reference's one
  * `unary_union` over all of a class's polygons (scripts/coco2geojson.py:136).
  *
  * `collect_list` gathers the group's WKB through Spark's partial/final
  * aggregation, `sort_array` orders it by the bytes (unsigned,
  * lexicographic), and one [[JtsGeo.unionAll]] cascaded union merges it.
  *
  * Null inputs are skipped; a group whose inputs are all null gives null.
  *
  * Determinism: the result is `JtsGeo.unionAll` of the group's non-null
  * inputs decoded in byte order, so its WKB depends only on the multiset of
  * input bytes: it is byte-identical under any partitioning or row order.
  *
  * Memory: the task that finishes a group holds all of the group's input
  * WKB at once, then the decoded geometries and their union.
  */
object GeomUnionAgg {

  private val unionSorted = udf { (wkbs: Seq[Array[Byte]]) =>
    if (wkbs.isEmpty) null else JtsGeo.toWkb(JtsGeo.unionAll(wkbs.map(JtsGeo.fromWkb)))
  }

  /** Column form: `df.groupBy(...).agg(GeomUnionAgg.union(col("wkb")))`. */
  def union(wkb: Column): Column = unionSorted(sort_array(collect_list(wkb)))
}
