package graft.expressions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode normalization (UAX #15) of a string
  * column — NFC/NFD/NFKC/NFKD.
  *
  * Why it exists: training corpora mix composed and decomposed encodings of
  * the same text ("Café" as U+00E9 vs U+0065 U+0301), which silently defeats
  * exact dedup, fingerprinting and shingle hashing — byte-different,
  * render-identical documents. Normalizing to NFC before `Text.fingerprint`
  * / shingling closes that hole. Spark has no built-in for this (the ICU
  * collation support in 4.x changes comparison, not bytes), so it is a
  * native expression.
  *
  * Scale shape: stateless scalar projection inside WholeStageCodegen. The
  * generated code runs the UAX #15 quick-check (`Normalizer.isNormalized`)
  * first and returns the input UTF8String UNCHANGED when already normal —
  * for the overwhelmingly-ASCII common case this is a scan, not an
  * allocation, so the 100 TB pass costs ~nothing where it has nothing to do.
  *
  * Cross-engine: NFC output is byte-identical to DuckDB's `nfc_normalize`
  * (both implement UAX #15; composition for BMP text is stable across
  * Unicode versions), so the q80 oracle replays it bit-for-bit. The other
  * three forms have no DuckDB twin and are spec-verified instead.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {
  require(UnicodeNormalize.Forms.contains(form),
    s"graft_normalize: form must be one of ${UnicodeNormalize.Forms.mkString("/")} (got '$form')")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize"

  private lazy val javaForm = Normalizer.Form.valueOf(form)

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val s = u.toString
    if (Normalizer.isNormalized(s, javaForm)) u
    else UTF8String.fromString(Normalizer.normalize(s, javaForm))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val f = s"java.text.Normalizer.Form.$form"
      s"""
         |java.lang.String $s = $c.toString();
         |if (java.text.Normalizer.isNormalized($s, $f)) {
         |  ${ev.value} = $c;
         |} else {
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |    java.text.Normalizer.normalize($s, $f));
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

object UnicodeNormalize {
  val Forms: Set[String] = Set("NFC", "NFD", "NFKC", "NFKD")

  /** Registry builder: `graft_normalize(str, 'NFC')` — the form argument must
    * be a string literal (it selects the generated code path). */
  def fromChildren(children: Seq[Expression]): Expression = {
    require(children.size == 2, "graft_normalize takes (string, form)")
    val form = children(1) match {
      case Literal(s, StringType) if s != null => s.toString
      case other => throw new IllegalArgumentException(
        s"graft_normalize: form must be a string literal, got $other")
    }
    UnicodeNormalize(children.head, form)
  }
}
