package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** What a pass must produce: exact integer fingerprints and real-valued
  * totals with an absolute tolerance. Computed at prepare time from the
  * generator, by code that does not call the engine. */
final case class Expectation(exact: Map[String, Long], approx: Map[String, (Double, Double)]) {

  def mismatches(o: Observed): Seq[String] =
    exact.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      o.exact.get(k) match {
        case Some(x) if x == v => None
        case x => Some(s"$k: expected $v, got ${x.getOrElse("nothing")}")
      }
    } ++ approx.toSeq.sortBy(_._1).flatMap { case (k, (v, tol)) =>
      o.approx.get(k) match {
        case Some(x) if math.abs(x - v) <= tol => None
        case x => Some(s"$k: expected $v ± $tol, got ${x.getOrElse("nothing")}")
      }
    }

  /** one line per entry, sorted, so equal expectations are equal bytes */
  def serialize: String =
    (exact.toSeq.sortBy(_._1).map { case (k, v) => s"exact $k $v" } ++
      approx.toSeq.sortBy(_._1).map { case (k, (v, t)) =>
        s"approx $k ${java.lang.Double.toString(v)} ${java.lang.Double.toString(t)}"
      }).mkString("", "\n", "\n")

  /** the subset of entries named in `keys` */
  def only(keys: Set[String]): Expectation =
    Expectation(exact.filter(e => keys(e._1)), approx.filter(e => keys(e._1)))

  /** the self-test's forged expectation: one exact count off by one */
  def forged: Expectation = {
    val (k, v) = exact.minBy(_._1)
    copy(exact = exact.updated(k, v + 1))
  }
}

object Expectation {
  def parse(s: String): Expectation = {
    val lines = s.split("\n").filter(_.nonEmpty).map(_.split(" "))
    Expectation(
      lines.collect { case Array("exact", k, v) => k -> v.toLong }.toMap,
      lines.collect { case Array("approx", k, v, t) => k -> ((v.toDouble, t.toDouble)) }.toMap)
  }
}

final case class Observed(exact: Map[String, Long], approx: Map[String, Double] = Map.empty)

/** A workload: a seeded generator that writes the inputs and the
  * expectation, and a runner that executes one pass over opened inputs. */
trait Workload {
  def name: String
  /** untimed passes after set-up. The first passes of a fresh JVM run
    * slower than later ones while the JIT compiles, and JIT warm-up counts
    * in passes: a short pass needs more of them. */
  def warmPasses: Int
  /** Write inputs under `dir`; return the input properties and the
    * expectation of every pass. */
  def prepare(spark: SparkSession, dir: Path, seed: Long): (Map[String, Any], Expectation)
  /** Open the prepared inputs; `work` is scratch space for outputs. */
  def open(spark: SparkSession, in: Prepared.Inputs, work: Path, tr: Tracer): Runner
}

trait Runner {
  /** rows the pass consumes (points, or input polygon features) */
  def inputRows: Long
  def pass(id: String): Observed
}

/** Cached prepare step keyed by (workload, seed, benchmark source hash):
  * a changed generator never reuses stale inputs. */
object Prepared {
  private val KeepPerWorkload = 2
  /** set from `--gen-key`: a hash of the benchmark's own sources */
  var genKey = "dev"

  final case class Inputs(dir: Path, props: Map[String, Any], expect: Expectation) {
    def rows: Long = props("rows").asInstanceOf[Double].toLong
  }

  def dirOf(root: Path, w: Workload, seed: Long): Path =
    root.resolve(s"${w.name}-s$seed-$genKey")

  def ready(root: Path, w: Workload, seed: Long): Boolean =
    Files.exists(dirOf(root, w, seed).resolve("DONE"))

  /** Materialize inputs and expectation into the cache (a no-op when the
    * cache has them); returns the seconds spent. */
  def prepare(spark: SparkSession, root: Path, w: Workload, seed: Long): Double = {
    val t0 = System.nanoTime()
    val dir = dirOf(root, w, seed)
    if (!ready(root, w, seed)) {
      val tmp = root.resolve(dir.getFileName.toString + ".tmp")
      Files2.deleteTree(tmp)
      Files.createDirectories(tmp)
      val (props, expect) = w.prepare(spark, tmp, seed)
      Files2.write(tmp.resolve("properties.json"), Json(props))
      Files2.write(tmp.resolve("expectation.txt"), expect.serialize)
      Files2.write(tmp.resolve("DONE"), "")
      Files2.deleteTree(dir)
      Files.move(tmp, dir)
      evict(root, w.name, dir)
    }
    (System.nanoTime() - t0) / 1e9
  }

  def load(root: Path, w: Workload, seed: Long): Inputs = {
    val dir = dirOf(root, w, seed)
    require(ready(root, w, seed), s"inputs of ${w.name} seed $seed are not prepared")
    val props = Json.parse(Files2.read(dir.resolve("properties.json"))).asInstanceOf[Map[String, Any]]
    Inputs(dir, props, Expectation.parse(Files2.read(dir.resolve("expectation.txt"))))
  }

  /** keep the newest few prepared seeds of a workload; inputs are large */
  private def evict(root: Path, workload: String, keep: Path): Unit = {
    val s = Files.list(root)
    val mine = try s.toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith(workload + "-s") && p != keep)
      .sortBy(p => -Files.getLastModifiedTime(p).toMillis)
    finally s.close()
    mine.drop(KeepPerWorkload - 1).foreach(Files2.deleteTree)
  }
}
