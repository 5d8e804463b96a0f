package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** PSL registered-domain (eTLD+1) as a single JVM expression.
  *
  * The column-expression spelling (kept as a test helper for UrlsSpec's
  * parity check) is a CASE tower over per-label-count `isin` probes; at the full
  * ~1235-rule snapshot the tower pushed whole-stage codegen past janino's
  * 64 KB method limit, silently dropping the ENTIRE stage (q54's link
  * graph) to the interpreted path. This expression replaces the tower
  * with hash-set lookups against the parsed rule sets, and its
  * `doGenCode` emits ONE call to [[lookup]] through a codegen reference
  * object (the [[BytesSdcDist]] pattern) — rule-set size never touches
  * generated-code size AND the surrounding stage genuinely stays inside
  * whole-stage codegen (a `CodegenFallback` would eject the whole
  * enclosing operator from WSCG via `supportCodegen`). Result strings
  * are identical to the column tower (same PSL algorithm, same label
  * slicing, same IPv4 and single-label pass-throughs) — bit-parity
  * asserted in UrlsSpec over every rule family.
  *
  * PSL algorithm (publicsuffix.org/list/): the registrable domain is the
  * LONGEST matching rule's suffix plus one label; a matching `!` exception
  * is itself the registrable domain; unknown TLDs fall back to the
  * default rule (`*`). */
case class RegisteredDomain(child: Expression,
                            exact: Set[String],
                            wildcardParents: Set[String],
                            exceptions: Set[String],
                            maxLabels: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"registered_domain needs a string argument, got ${dt.simpleString}")
  }

  override def dataType: DataType = StringType

  override def prettyName: String = "registered_domain"

  /** The per-row kernel (public: the generated code calls it through a
    * reference object). Suffix strings are built ONCE per row,
    * incrementally right-to-left (`suf(k)` = last k labels joined), so
    * each label count costs set probes, not repeated slice+join. */
  def lookup(h: UTF8String): UTF8String = {
    val host = h.toString
    if (RegisteredDomain.numericRe.matcher(host).find()) return h
    // limit -1 keeps trailing empty labels — matching Spark's split()
    val labels = host.split("\\.", -1)
    val n = labels.length
    val maxK = math.min(n, maxLabels + 1)
    val suf = new Array[String](maxK + 1) // suf(k) = last k labels
    var k = 1
    suf(1) = labels(n - 1)
    while (k < maxK) {
      k += 1
      suf(k) = labels(n - k) + "." + suf(k - 1)
    }
    // longest rules first (the column tower wraps them outermost)
    k = math.min(maxLabels, maxK)
    while (k >= 2) {
      if (exceptions.contains(suf(k))) return UTF8String.fromString(suf(k))
      if (n >= k + 1) {
        val exactHit = exact.contains(suf(k))
        val wildHit = wildcardParents.contains(suf(k - 1)) &&
          !exceptions.contains(suf(k))
        if (exactHit || wildHit) return UTF8String.fromString(suf(k + 1))
      }
      k -= 1
    }
    UTF8String.fromString(if (n >= 2) suf(2) else host)
  }

  override protected def nullSafeEval(h: Any): Any =
    lookup(h.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // one method call per row; the rule sets travel inside the referenced
    // expression object, never inside generated code
    val ref = ctx.addReferenceObj("rdExpr", this,
      classOf[RegisteredDomain].getName)
    defineCodeGen(ctx, ev, c => s"$ref.lookup($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RegisteredDomain {
  /** compiled once (a per-instance field would recompile on every
    * case-class copy during plan transforms) */
  private[functions] val numericRe =
    java.util.regex.Pattern.compile("^[0-9.]+$")

  def column(host: Column, exact: Set[String], wildcardParents: Set[String],
             exceptions: Set[String], maxLabels: Int): Column =
    Bridge.column(RegisteredDomain(Bridge.expression(host),
      exact, wildcardParents, exceptions, maxLabels))
}
