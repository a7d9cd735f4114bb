package org.apache.spark

/** Bridge to the live SparkContext's own conf (`SparkContext.getActive` and
  * `SparkContext.conf` are private[spark]; `getConf` returns a copy), so a
  * session extension can default a static SQL conf before the session's
  * SharedState copies the context conf. Isolated here so the rest of the
  * codebase stays on public API. */
object GraftConfBridge {
  def activeConf: Option[SparkConf] = SparkContext.getActive.map(_.conf)
}
