package alertbench

import org.apache.spark.sql.DataFrame

/** Layer probes on one fixed, cached batch: per-module build and
  * marginal execution cost (chain prefixes materialised to a no-op
  * sink), gate shares, and direct kernel / scorer calls.
  */
object Probe {

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  /** (module, exec_ms) per module: the time to materialise the chain
    * prefix through this module from the materialised prefix before it,
    * so each module's marginal execution cost. Each prefix is a local
    * checkpoint, so plans stay one module deep.
    */
  def operators(steps: Seq[Chain.Step], input: DataFrame): Seq[(String, Double)] = {
    var prev = input
    steps.map { s =>
      val t0 = System.nanoTime()
      prev = s.run(prev).localCheckpoint(eager = true)
      s.name -> (System.nanoTime() - t0) / 1e6
    }
  }

  /** (module, build_ms) per module: each module call's own cost while the
    * whole chain is built over `input`.
    */
  def builds(steps: Seq[Chain.Step], input: DataFrame): Seq[(String, Double)] = {
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    Chain.enrichTimed(steps, (n, ns) => got += (n -> ns / 1e6))(input)
    got.toSeq
  }
}
