package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{AssembleSeries, AssembleTimed, ComplexAmplitude, ComplexPhase, DspFunctions, FloorDotE9, RewriteFloorDotE9}

/** Library integration point for `spark.sql.extensions=graft.GraftExtensions`
  * (or `withExtensions(new GraftExtensions)` on a session builder):
  * injects the engine's native Catalyst functions into the session's
  * function registry at build time, so pure-SQL users get them without the
  * per-DataFrame registration the Column API performs lazily
  * (ComplexArrayFunctions.register / SeriesAssembleFunctions.register).
  *
  *  - `complex_amplitude(re, im)` / `complex_phase(re, im)` — codegen
  *    elementwise |z| / arg(z) over parallel double arrays
  *  - `assemble_series(t_idx, value)` — packed-buffer series assembly
  *    ordered by t_idx (O(n) placement for dense indices)
  *  - `assemble_timed(ts, event_id, value)` — packed-buffer assembly
  *    ordered by (ts, event_id), emitting struct(values, ts)
  *  - `floor_dot_e9(a, b)` — codegen exact-grid inner product
  *    Σ floor(aᵢ·bᵢ·1e9) over float/double arrays (cosine rescoring,
  *    energy norms)
  *  - `segment_resample`, `segment_notch`, `wavelet_bands`,
  *    `wavelet_amplitude` — the per-segment spectral kernels over
  *    (values, rate) with literal parameters (graft.functions.DspFunctions)
  *
  * ONE optimizer rule is injected — [[graft.functions.RewriteFloorDotE9]],
  * which substitutes the native codegen'd `floor_dot_e9` for the portable
  * HOF `aggregate(zip_with(...))` exact-grid dot product. It is the single
  * rule whose rewrite is PROVABLY value-identical (bit-for-bit, including
  * the null chain — GridExpressionsSpec pins it), so it cannot perturb an
  * oracle; no strategies and no semantics-bearing rules are injected — the
  * engine's plans stay stock Catalyst on purpose (SURVEY.md §7: "no custom
  * SparkStrategy warranted anywhere"). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RewriteFloorDotE9)
    ext.injectFunction((
      FunctionIdentifier("complex_amplitude"),
      new ExpressionInfo(classOf[ComplexAmplitude].getName, "complex_amplitude"),
      (exprs: Seq[Expression]) => ComplexAmplitude(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("complex_phase"),
      new ExpressionInfo(classOf[ComplexPhase].getName, "complex_phase"),
      (exprs: Seq[Expression]) => ComplexPhase(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("assemble_series"),
      new ExpressionInfo(classOf[AssembleSeries].getName, "assemble_series"),
      (exprs: Seq[Expression]) => AssembleSeries(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("assemble_timed"),
      new ExpressionInfo(classOf[AssembleTimed].getName, "assemble_timed"),
      (exprs: Seq[Expression]) => AssembleTimed(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("floor_dot_e9"),
      new ExpressionInfo(classOf[FloorDotE9].getName, "floor_dot_e9"),
      (exprs: Seq[Expression]) => FloorDotE9(exprs(0), exprs(1))))
    for ((name, cls, build) <- DspFunctions.builders)
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
  }
}
