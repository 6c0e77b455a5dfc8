package graftbench

import graft.Pipeline
import graft.operators.{DimIndex, MatchKernel}
import graft.sources.Synth

/** Single-threaded probes the traced run reports beside the Spark layers. */
object Kernel {
  @volatile private var blackhole = 0

  /** MatchKernel + Nomenclature cost per turn: the kernel annotates a
    * fixed sample of turns on the calling thread, five times; the median
    * pass is reported.
    */
  def nsPerTurn(seed: Long, n: Int = 20000): Double = {
    val idx: DimIndex = Pipeline.cachedIndex(
      org.apache.spark.sql.SparkSession.active).value
    val cfg = Synth.TurnGenConfig(nConvs = n / 25, turnsPerConv = 25,
      nGenes = Pipeline.DefaultGenes, seed = seed)
    val turns = Synth.transcriptRows(cfg).toArray
    var sink = 0
    val passes = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < turns.length) {
        sink ^= MatchKernel.annotateTurn(turns(i), idx).highest_tier.hashCode; i += 1
      }
      (System.nanoTime() - t0).toDouble / turns.length
    }.sorted
    blackhole = sink
    passes(passes.size / 2)
  }

  /** Same-hour CPU control: `graft.tools.CpuScaleProbe` (plain JVM
    * threads, no Spark) at a small item count; returns its 8-thread
    * items/s.
    */
  def cpuProbe(items: Long = 40000000L): Double = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(graft.tools.CpuScaleProbe.main(Array(items.toString)))
    """"thr8":([0-9.]+)""".r.findFirstMatchIn(buf.toString).map(_.group(1).toDouble)
      .getOrElse(0.0)
  }
}
