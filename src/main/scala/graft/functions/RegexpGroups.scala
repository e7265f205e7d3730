package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen expression: match a regex ONCE and return every
  * capture group as an `array<string>`.
  *
  * `regexp_extract(line, re, i)` re-runs the whole match per extracted
  * column — and when `line` is itself an expensive derived expression,
  * CollapseProject inlines that subtree into every copy too, so a
  * 6-group parse costs 6 renders + 6 regex executions per row (q20
  * measured ~1.4 s at sf0.1 for a 5-column extract). This runs the
  * match once. Read the groups from the projection above it (see
  * `Ingest.logParse`): CollapseProject does not inline an expensive
  * expression that several columns read, so the array is also
  * evaluated once.
  *
  * Per-group semantics mirror `regexp_extract`: unanchored `find()`,
  * "" for a group that did not participate, and "" for every group
  * when the pattern does not match at all.
  */
case class RegexpGroups(child: Expression, pattern: String)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_regexp_groups"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${other.simpleString}")
  }

  @transient private lazy val re: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(pattern)

  private lazy val nGroups: Int =
    java.util.regex.Pattern.compile(pattern).matcher("").groupCount()

  override def nullSafeEval(s: Any): Any = {
    val m = re.matcher(s.asInstanceOf[UTF8String].toString)
    val arr = new Array[Any](nGroups)
    if (m.find()) {
      var i = 0
      while (i < nGroups) {
        val g = m.group(i + 1)
        arr(i) = if (g == null) UTF8String.EMPTY_UTF8 else UTF8String.fromString(g)
        i += 1
      }
    } else {
      java.util.Arrays.fill(arr.asInstanceOf[Array[AnyRef]], UTF8String.EMPTY_UTF8)
    }
    new GenericArrayData(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val patRef = ctx.addReferenceObj("pattern", re, "java.util.regex.Pattern")
      val m = ctx.freshName("m")
      val arr = ctx.freshName("arr")
      val i = ctx.freshName("i")
      val g = ctx.freshName("g")
      val u = "org.apache.spark.unsafe.types.UTF8String"
      s"""
         |java.util.regex.Matcher $m = $patRef.matcher($x.toString());
         |$u[] $arr = new $u[$nGroups];
         |if ($m.find()) {
         |  for (int $i = 0; $i < $nGroups; $i++) {
         |    String $g = $m.group($i + 1);
         |    $arr[$i] = ($g == null) ? $u.EMPTY_UTF8 : $u.fromString($g);
         |  }
         |} else {
         |  java.util.Arrays.fill($arr, $u.EMPTY_UTF8);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RegexpGroups =
    copy(child = newChild)
}

object RegexpGroups {
  /** Registry builder: (string column, pattern string literal). */
  def fromExprs(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"graft_regexp_groups expects 2 arguments (string, pattern), got ${exprs.length}")
    exprs(1) match {
      case Literal(s: UTF8String, StringType) =>
        RegexpGroups(exprs.head, s.toString)
      case other =>
        throw new IllegalArgumentException(
          s"graft_regexp_groups expects a string literal pattern, got $other")
    }
  }
}
