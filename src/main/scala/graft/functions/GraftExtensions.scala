package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** `SparkSessionExtensions` hook (SURVEY.md §4): enables
  * `spark.sql.extensions=graft.functions.GraftExtensions` to inject the
  * engine's native functions, the as-of join strategy and the
  * [[graft.plans.SmallGlobalSort]] stage rule into any session at build
  * time.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    // the ONE builder (with its arity require) — a re-implemented inline
    // builder used to accept cosine_sim(a,b,c) silently and throw raw
    // IndexOutOfBounds on cosine_sim(a)
    e.injectFunction(
      (FunctionIdentifier(CosineSimilarity.functionName),
        CosineSimilarity.info, CosineSimilarity.builder _))
    e.injectFunction(
      (FunctionIdentifier(NfcNormalize.functionName),
        NfcNormalize.info, NfcNormalize.builder _))
    e.injectFunction(
      (FunctionIdentifier(DeflateSize.functionName),
        DeflateSize.info, DeflateSize.builder _))
    e.injectFunction(
      (FunctionIdentifier(PqEncodeRecon.functionName),
        PqEncodeRecon.info, PqEncodeRecon.builder _))
    e.injectFunction(
      (FunctionIdentifier(WordPieceEncode.functionName),
        WordPieceEncode.info, WordPieceEncode.builder _))
    e.injectFunction(
      (FunctionIdentifier(UnigramEncode.functionName),
        UnigramEncode.info, UnigramEncode.builder _))
    e.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    graft.plans.SmallGlobalSort.inject(e)
    // SimplifySelfCosine is deliberately NOT injected by default: it is a
    // semantics-RELAXING rewrite (see its scaladoc — the emitted 1.0
    // differs from the unoptimized double result by a final rounding, and
    // NaN/zero-vector corners flip), so it must be an explicit per-session
    // opt-in via experimental.extraOptimizations or a custom extension,
    // never a surprise bundled with the function registrations.
  }
}
