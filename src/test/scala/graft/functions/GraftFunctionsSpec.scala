package graft.functions

import graft.SparkTestBase

/** [[GraftFunctions.register]] binds by identity, not by name: the
  * catalog resolves `cosine_similarity` & co. through the session
  * registry (SQL strings and `call_function`), so a foreign function
  * already bound under one of those names must stop registration
  * loudly instead of being silently used by every query. Each case
  * runs in its own `newSession()`, whose registry starts from the
  * built-ins only, so the shared session is never touched. */
class GraftFunctionsSpec extends SparkTestBase {

  test("an impostor bound under an engine function's name fails registration loudly") {
    val ns = spark.newSession()
    ns.udf.register("cosine_similarity", (a: Seq[Double], b: Seq[Double]) => 0.0)
    val err = intercept[IllegalStateException](GraftFunctions.register(ns))
    assert(err.getMessage.contains("cosine_similarity"), err.getMessage)
  }

  test("re-registration and extension-injected builders are recognised as the engine's own") {
    val ns = spark.newSession()
    GraftFunctions.register(ns)
    GraftFunctions.register(ns) // idempotent: same builders, no error
    assert(ns.sql("SELECT cosine_similarity(array(1D, 0D), array(1D, 0D)) AS c").head().getDouble(0) == 1.0)

    // GraftExtensions injects exactly GraftFunctions.all's builders;
    // registering them the way the injection does must count as ours
    val injected = spark.newSession()
    val reg = injected.sessionState.functionRegistry
    GraftFunctions.all.foreach { case (ident, info, builder) => reg.registerFunction(ident, info, builder) }
    GraftFunctions.register(injected)
    assert(injected.sql("SELECT dot_product(array(1D, 2D), array(3D, 4D)) AS d").head().getDouble(0) == 11.0)
  }
}
