package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}

/** Codegen half of the native-kernel pattern. Every kernel in this package
  * writes its algorithm once, as a static `compute` on its companion object
  * that returns the result (boxed for a primitive SQL type) or null.
  * `nullSafeEval` calls `compute` directly; `doGenCode` emits one call to the
  * same method through [[callCode]], so whole-stage codegen runs the very
  * code interpreted eval runs.
  *
  * Parameters that shape the computation (`bits`, `w`, `nPlanes`, …) are
  * spliced into the call as literals. Per-instance data (a weight vector, a
  * lookup map, the expression itself) goes in through
  * `ctx.addReferenceObj`, so every instance that differs only in that data
  * shares one generated class and hits the codegen cache.
  *
  * `compute` must not share its name with a member of the kernel's case
  * class: scalac emits no static forwarder for a clashing name, and the
  * generated Java calls the forwarder.
  */
object Kernels {

  /** Java statements that assign `javaCall`'s result to `ev.value`
    * (unboxed when `ev.value` is primitive) and set `ev.isNull` when the
    * result is null. For use inside `nullSafeCodeGen`.
    */
  def callCode(ctx: CodegenContext, ev: ExprCode, javaCall: String): String = {
    val jt = ev.value.javaType
    if (jt.isPrimitive) {
      val res = ctx.freshName("res")
      s"""
         |${CodeGenerator.boxedType(jt.getName)} $res = $javaCall;
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res.${jt.getName}Value(); }
       """.stripMargin
    } else {
      s"""
         |${ev.value} = $javaCall;
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    }
  }
}
