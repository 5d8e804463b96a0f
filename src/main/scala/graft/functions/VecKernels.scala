package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** The one spelling of each native vector expression's per-element loop.
  * An expression's `nullSafeEval` calls its kernel here, and its
  * `doGenCode` emits one static call to the same method (`$Name.kernel(…)`:
  * Scala gives an `object` with no companion class static forwarders,
  * the way Spark's generated code calls `DateTimeUtils`). Interpreted and
  * generated evaluation therefore run the same loop, and the IEEE-754 op
  * order of each result is fixed in one place.
  *
  * Kernels take non-null inputs and return primitives or fresh arrays,
  * never a boxed value: the null rules (a null input, a dot's length
  * mismatch, an out-of-range ADC or SDC code) stay in the expressions, as
  * one check before the call. The JVM-array kernels ([[dot]], [[norm]],
  * [[subL2]] and the IVF/PQ kernels built on them) are also the one fold
  * that the `ops` row kernels, driver-side tables and dedup pairs call.
  * `spark.sql.codegen.factoryMode=NO_CODEGEN` runs the interpreted path
  * (switching off `spark.sql.codegen.wholeStage` alone still compiles
  * each expression). */
object VecKernels {

  /** class that generated code calls the kernels on */
  private[functions] val Name: String = getClass.getName.stripSuffix("$")

  /** Σ x_i·y_i over equal-length `array<float>`s: each pair widened to
    * double, multiplied, and added left to right from 0.0 — the op order
    * of the `aggregate(zip_with(...))` fold, so results are bit-identical
    * to it. */
  def floatDot(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Σ x_i·y_i over equal-length `array<long>`s (exact integer sum). */
  def longDot(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  /** Σ x_i·y_i over equal-length signed-byte codes, widened to long. */
  def bytesDot(x: Array[Byte], y: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < x.length) { acc += x(i).toLong * y(i).toLong; i += 1 }
    acc
  }

  /** SQ8 scale max(max|v_i|, 1e-30)/127: one scan, max seeded with −∞.
    * A NaN element is skipped (`>` is false), so inputs must be finite to
    * match the column-HOF spelling, whose `array_max` orders NaN greatest. */
  def sq8Scale(x: ArrayData): Double = {
    val n = x.numElements()
    var mx = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      val ab = math.abs(x.getFloat(i).toDouble)
      if (ab > mx) mx = ab
      i += 1
    }
    math.max(mx, 1e-30) / 127.0
  }

  /** SQ8 codes floor(v_i/scale + 0.5) ∈ [-127, 127] as `array<long>`. */
  def sq8Codes(x: ArrayData): ArrayData = {
    val s = sq8Scale(x)
    val out = new Array[Long](x.numElements())
    var i = 0
    while (i < out.length) {
      out(i) = math.floor(x.getFloat(i).toDouble / s + 0.5).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  /** SQ8 codes packed one signed byte per dimension. */
  def sq8Bytes(x: ArrayData): Array[Byte] = {
    val s = sq8Scale(x)
    val out = new Array[Byte](x.numElements())
    var i = 0
    while (i < out.length) {
      out(i) = math.floor(x.getFloat(i).toDouble / s + 0.5).toByte
      i += 1
    }
    out
  }

  /** One SRP-LSH band key: `rowsPerBand` sign bits of the projections on
    * planes [band·rowsPerBand, (band+1)·rowsPerBand), bit j set when
    * projection j is > 0. Plane component
    * ((p·2654435761 + i·40503) mod 1000)/1000 − 0.5, projection folded
    * left to right in double — the op order of the column-HOF band key
    * the DuckDB oracle replays. */
  def srpBandKey(x: ArrayData, band: Int, rowsPerBand: Int): Long = {
    val n = x.numElements()
    var key = 0L
    var j = 0
    while (j < rowsPerBand) {
      val p = (band * rowsPerBand + j).toLong
      var proj = 0.0
      var i = 0
      while (i < n) {
        val pc = ((p * 2654435761L + i * 40503L) % 1000L).toDouble / 1000.0 - 0.5
        proj += x.getFloat(i).toDouble * pc
        i += 1
      }
      if (proj > 0) key |= (1L << j)
      j += 1
    }
    key
  }

  /** all `bands` band keys ([[srpBandKey]]) as `array<long>` */
  def srpKeys(x: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) { out(b) = srpBandKey(x, b, rowsPerBand); b += 1 }
    new GenericArrayData(out)
  }

  /** [[floatDot]] on JVM arrays: Σ x_i·y_i over i < x.length, each
    * pair widened to double, added left to right from 0.0. */
  def dot(x: Array[Float], y: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < x.length) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
    acc
  }

  /** √[[dot]](x, x), the norm every cosine in the tree divides by */
  def norm(x: Array[Float]): Double = math.sqrt(dot(x, x))

  /** Subspace squared L2 Σ_d (x(off+d) − c(d))² over d < c.length, each
    * difference taken in double and squared, added left to right from
    * 0.0: the fold of PQ encode ([[pqCodes]]), the ADC table
    * ([[pqLutTable]]) and the SDC table (`Quantize.pqSdcTable`), and the
    * sequence the DuckDB oracle replays. */
  def subL2(x: Array[Float], off: Int, c: Array[Float]): Double = {
    var acc = 0.0
    var d = 0
    while (d < c.length) {
      val diff = x(off + d).toDouble - c(d).toDouble
      acc += diff * diff
      d += 1
    }
    acc
  }

  /** The `m` nearest IVF list ids of `v` by cosine, [[dot]] / ([[norm]]·
    * the centroid's norm), descending, ties to the smaller list id. */
  def nearestIn(cents: Array[(Int, Array[Float], Double)],
                v: Array[Float], m: Int): Array[Int] = {
    val n = norm(v)
    cents.map { case (li, cv, cn) => (-(dot(v, cv) / (n * cn)), li) }
      .sorted.take(m).map(_._2)
  }

  /** `m` nearest IVF list ids ([[nearestIn]]) as `array<int>` */
  def nearestLists(x: ArrayData, cents: Array[(Int, Array[Float], Double)],
                   m: Int): ArrayData =
    new GenericArrayData(nearestIn(cents, x.toFloatArray(), m))

  /** PQ encode: per subspace s, the codebook entry j minimizing
    * [[subL2]](v, s·dsub, cb(s)(j)), ties to the smallest j. */
  def pqCodes(v: Array[Float], cb: Array[Array[Array[Float]]]): Array[Int] =
    Array.tabulate(cb.length) { s =>
      val off = s * cb(s)(0).length
      var best = Double.PositiveInfinity; var bestJ = 0
      var j = 0
      while (j < cb(s).length) {
        val acc = subL2(v, off, cb(s)(j))
        if (acc < best) { best = acc; bestJ = j } // strict < keeps earliest j on ties
        j += 1
      }
      bestJ
    }

  /** PQ codes ([[pqCodes]]) as `array<int>` */
  def pqEncode(x: ArrayData, cb: Array[Array[Array[Float]]]): ArrayData =
    new GenericArrayData(pqCodes(x.toFloatArray(), cb))

  /** PQ codes packed one signed byte per subspace (ksub ≤ 128) */
  def pqEncodeBytes(x: ArrayData, cb: Array[Array[Array[Float]]]): Array[Byte] =
    pqCodes(x.toFloatArray(), cb).map(_.toByte)

  /** Per-query ADC table: lut(s)(j) = [[subL2]] between the query's s-th
    * slice and codebook entry j; m×ksub doubles per query. */
  def pqLutTable(v: Array[Float], cb: Array[Array[Array[Float]]]): Array[Array[Double]] =
    Array.tabulate(cb.length) { s =>
      val off = s * cb(s)(0).length
      cb(s).map(c => subL2(v, off, c))
    }

  /** per-query ADC table ([[pqLutTable]]) as `array<array<double>>` */
  def pqLut(x: ArrayData, cb: Array[Array[Array[Float]]]): ArrayData =
    new GenericArrayData(pqLutTable(x.toFloatArray(), cb)
      .map(row => new GenericArrayData(row): AnyRef))

  /** [[adcDist]]'s null rule: one code per LUT row, each in [0, row length). */
  def adcInRange(codes: ArrayData, lut: ArrayData): Boolean = {
    val n = codes.numElements()
    if (n != lut.numElements()) return false
    var s = 0
    while (s < n) {
      val c = codes.getInt(s)
      if (c < 0 || c >= lut.getArray(s).numElements()) return false
      s += 1
    }
    true
  }

  /** ADC distance Σ_s lut[s][codes_s], added left to right from 0.0 in
    * subspace order; codes must pass [[adcInRange]]. */
  def adcDist(codes: ArrayData, lut: ArrayData): Double = {
    val n = codes.numElements()
    var acc = 0.0
    var s = 0
    while (s < n) { acc += lut.getArray(s).getDouble(codes.getInt(s)); s += 1 }
    acc
  }

  /** [[sdcDist]]'s null rule: equal-length code strings that match the
    * m×ksub×ksub table, every code in [0, ksub). */
  def sdcInRange(x: Array[Byte], y: Array[Byte], flat: Array[Double], ksub: Int): Boolean = {
    if (x.length != y.length || x.length * ksub * ksub != flat.length) return false
    var s = 0
    while (s < x.length) {
      if (x(s) < 0 || x(s) >= ksub || y(s) < 0 || y(s) >= ksub) return false
      s += 1
    }
    true
  }

  /** SDC distance Σ_s flat((s·ksub + x_s)·ksub + y_s), added left to right
    * from 0.0 in subspace order; codes must pass [[sdcInRange]]. */
  def sdcDist(x: Array[Byte], y: Array[Byte], flat: Array[Double], ksub: Int): Double = {
    var acc = 0.0
    var s = 0
    while (s < x.length) { acc += flat((s * ksub + x(s)) * ksub + y(s)); s += 1 }
    acc
  }
}
