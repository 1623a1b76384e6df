package org.apache.spark.graftbench

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** Spark's JVM-wide cache of compiled generated classes. Emptying it makes
  * the next execution of a query compile its whole-stage code again, as
  * its first execution did. The cache's type is private to Spark, hence
  * this package; the cache itself is private to `CodeGenerator` and is
  * reached by reflection.
  */
object CodegenCache {
  private lazy val cache: NonFateSharingCache[_, _] = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]]
  }

  def clear(): Unit = cache.invalidateAll()
}
