package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: wire with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  * Injects graft's native expressions (`dot_i64`, `portable_h60`) into the
  * session's function registry, the extension-point tier the prompt and
  * SURVEY §2.10 prescribe for engine additions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.dotI64Descriptor)
    ext.injectFunction(GraftFunctions.hash60Descriptor)
    ext.injectFunction(GraftFunctions.beLongDescriptor)
    ext.injectFunction(GraftFunctions.beLongBytesDescriptor)
  }
}

object GraftExtensions {
  /** `spark.sql.codegen.cache.maxEntries` of cli/Main, Bench and Verify:
    * Spark's 100 is below one five-report pass (~193 classes), so each
    * pass recompiled them; one Verify run at sf0.01 generates 3,306. */
  val CodegenCacheEntries = 4000
}
