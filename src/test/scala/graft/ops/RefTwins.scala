package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SQL-portable column spellings of the native expressions, the shapes
  * the DuckDB oracles replay, and scalar spellings of column paths. Each is
  * interpreted per row or per pair, so none is a production path; the
  * specs use them to prove parity of the main code. */
object RefTwins {

  /** Left-to-right dot product of two array columns (cast to double), of
    * `VecExprs.dotF` and `VecKernels.dot`. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  private def xAt(seg: Column, i: Column): Column =
    element_at(seg, (i * 2 + 1).cast("int"))
  private def yAt(seg: Column, i: Column): Column =
    element_at(seg, (i * 2 + 2).cast("int"))

  /** [[graft.geo.GeomCols.shoelace]] as an `aggregate` cross-product sum
    * over the vertex array. */
  def shoelaceCol(seg: Column): Column = {
    val n = (size(seg) / 2).cast("long")
    val signed = aggregate(
      sequence(lit(0L), n - 1),
      lit(0.0),
      (acc, i) => {
        val j = (i + 1) % n
        acc + (xAt(seg, i) * yAt(seg, j) - xAt(seg, j) * yAt(seg, i))
      })
    abs(signed) / 2.0
  }

  /** [[graft.geo.GeomCols.bbox]] as `least`/`greatest` folds over the
    * vertex array. */
  def bboxCol(seg: Column): Column = {
    val n = (size(seg) / 2).cast("long")
    def reduceBy(f: (Column, Column) => Column, pick: (Column, Column) => Column) =
      aggregate(sequence(lit(1L), n - 1), pick(seg, lit(0L)),
        (acc, i) => f(acc, pick(seg, i)))
    val minX = reduceBy(least(_, _), xAt)
    val minY = reduceBy(least(_, _), yAt)
    val maxX = reduceBy(greatest(_, _), xAt)
    val maxY = reduceBy(greatest(_, _), yAt)
    array(minX, minY, maxX - minX, maxY - minY)
  }

  /** Deterministic pseudo-random hyperplane component for SRP-LSH:
    * plane(p, i) ∈ [-0.5, 0.5), a pure hash-mix of (plane, dim) — identical
    * in any engine, no RNG state. */
  private def planeComponent(p: Column, i: Column): Column =
    (pmod(p * 2654435761L + i * 40503L, lit(1000L)).cast("double") / 1000.0) - 0.5

  /** One band's SRP key: `rowsPerBand` sign bits from planes
    * [band·rowsPerBand, (band+1)·rowsPerBand), packed into a Long, of
    * `FloatVecSrpKeys`. */
  def bandKeyCol(vec: Column, band: Column, rowsPerBand: Int): Column = {
    val bits = (0 until rowsPerBand).map { j =>
      val p = (band * rowsPerBand + j).cast("long")
      val proj = aggregate(
        transform(vec, (x, i) => x.cast("double") * planeComponent(p, i.cast("long"))),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** [[Quantize.sq8Codes]]; re-scans for the scale per element, O(d²). */
  def sq8CodesRef(vec: Column): Column = {
    val s = Quantize.sq8Scale(vec)
    transform(vec, x => floor(x.cast("double") / s + 0.5).cast("long"))
  }

  /** ADC distance of `AnnExprs.adcDist`, in the exact grouping the DuckDB
    * oracle's `list_reduce` replays: 1-based `element_at` per code,
    * left-to-right fold from 0.0. */
  def adcDistColRef(codes: Column, lut: Column): Column =
    aggregate(zip_with(codes, lut, (c, l) => element_at(l, c + lit(1))),
      lit(0.0), (acc, x) => acc + x)

  /** binary SQ8/PQ codes (one signed byte per dimension, the at-rest
    * layout of [[Quantize.sq8Bytes]]) widened to `array<long>` */
  def bytesToCodes(codes: Column): Column =
    udf((b: Array[Byte]) => if (b == null) null else b.map(_.toLong)).apply(codes)

  /** [[Quantize.annPqSdc]] with the SDC sum as a lambda over three nested
    * `element_at`s per subspace per pair. */
  def annPqSdcRef(quant: DataFrame, cb: Array[Array[Array[Float]]],
                  idCol: String, codesCol: String, k: Int,
                  blockCol: Option[String] = None): DataFrame = {
    val m = cb.length
    val tbl = typedLit(Quantize.pqSdcTable(cb).map(_.map(_.toSeq).toSeq).toSeq)
    val cols = Seq(col(idCol).cast("long").as("id"),
      bytesToCodes(col(codesCol)).as("c")) ++
      blockCol.map(c => col(c).as("blk"))
    val e = quant.select(cols: _*)
    val joinCond = blockCol match {
      case Some(_) => col("a.blk") === col("b.blk") && col("a.id") =!= col("b.id")
      case None => col("a.id") =!= col("b.id")
    }
    // dist = Σ_s tbl[s][qc_s][pc_s] — all 1-based element_at, fold from 0.0
    val dist = aggregate(
      transform(sequence(lit(0), lit(m - 1)), s =>
        element_at(
          element_at(element_at(tbl, s + lit(1)),
            element_at(col("a.c"), s + lit(1)).cast("int") + lit(1)),
          element_at(col("b.c"), s + lit(1)).cast("int") + lit(1))),
      lit(0.0), (acc, x) => acc + x)
    val pairs = e.as("a").join(e.as("b"), joinCond)
      .select(col("a.id").as("qid"), col("b.id").as("pid"), dist.as("dist"))
    Quantize.rankTopK(pairs, "dist", ascending = true, k, Seq("qid", "rnk", "pid", "dist"))
  }

  /** [[Urls.registeredDomain]] as per-label-count `isin` probes in a CASE
    * tower; generated-code size grows with the rule count. */
  def registeredDomainRef(hostCol: Column): Column = {
    import Urls.{pslExact, pslExceptions, pslMaxLabels, pslWildcardParents}
    val labels = split(hostCol, "\\.")
    val n = size(labels)
    def lastK(k: Int): Column = concat_ws(".", slice(labels, -k, k))
    def inSet(c: Column, s: Set[String]): Column =
      if (s.isEmpty) lit(false) else c.isin(s.toSeq: _*)
    def isPublicSuffix(k: Int): Column = {
      val exactHit = inSet(lastK(k), pslExact.filter(_.count(_ == '.') == k - 1))
      val wildHit =
        if (k < 2) lit(false)
        else inSet(lastK(k - 1), pslWildcardParents.filter(_.count(_ == '.') == k - 2)) &&
          !inSet(lastK(k), pslExceptions)
      exactHit || wildHit
    }
    // default rule (suffix = bare TLD) as the base; wrap with longer
    // candidate suffixes so the LONGEST matching rule is checked first.
    // Exception rules (`!x.y.z`) are handled explicitly: per the PSL
    // algorithm the matching exception IS the registrable domain (its
    // public suffix is the exception minus the leftmost label) — falling
    // through to the default rule would be wrong whenever the exception's
    // parent is not a bare TLD (e.g. !city.kawasaki.jp under *.kawasaki.jp)
    val base = when(n >= 2, lastK(2)).otherwise(hostCol)
    val psl = (2 to pslMaxLabels).foldLeft(base) { (acc, k) =>
      when(n >= k && inSet(lastK(k), pslExceptions), lastK(k))
        .otherwise(when(n >= k + 1 && isPublicSuffix(k), lastK(k + 1)).otherwise(acc))
    }
    when(hostCol.rlike("^[0-9.]+$"), hostCol).otherwise(psl)
  }

  /** All cells at `level` whose box intersects the closed envelope, in
    * [[graft.geo.CellIndex.cellRange]] order: the scalar spelling of
    * [[graft.geo.CellIndex.cellsCoveringCol]]. */
  def cellsCovering(ci: graft.geo.CellIndex, xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                    level: Int): Seq[Long] =
    graft.geo.CellIndex.cellRange(level, ci.colOf(xmin, level), ci.colOf(xmax, level),
      ci.rowOf(ymin, level), ci.rowOf(ymax, level)).toSeq

  /** robots pattern → SQL LIKE pattern (`*`→`%`, trailing `$` anchors,
    * otherwise an implicit trailing `%`; LIKE metacharacters escaped with
    * `\`): the scalar spelling of the translation [[Robots.evaluate]] runs
    * as column expressions. */
  def toLike(pattern: String): String = {
    val (body, anchored) =
      if (pattern.endsWith("$")) (pattern.dropRight(1), true) else (pattern, false)
    val escaped = body.flatMap {
      case '%' => "\\%"
      case '_' => "\\_"
      case '\\' => "\\\\"
      case '*' => "%"
      case c => c.toString
    }
    if (anchored) escaped else escaped + "%"
  }
}
