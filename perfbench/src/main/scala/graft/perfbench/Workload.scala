package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Result of one timed operation: its wall time and whether its output
  * matched the model. */
final case class OpResult(seconds: Double, ok: Boolean, detail: String = "")

/** A workload: repeatable set-up rounds, then timed operations, each
  * checked after its timer stops. */
trait Workload {
  /** Build the inputs from scratch; repeatable. */
  def setupRound(round: Int): Unit
  /** Operations in one full pass over the workload's inputs. A run ends
    * on a pass boundary, and its latency samples are whole passes. */
  def cycle: Int = 1
  /** The input size, for the run context. */
  def describe: String
  /** One-off preparation after the last round, such as a cold pass. */
  def prepare(): Unit = ()
  def run(i: Int): OpResult
  /** One operation with each layer called on its own under `t`; returns
    * the operation's check result and its per-layer values. */
  def traced(i: Int, t: Tracer): (OpResult, Map[String, Double])
  /** Per-layer values that summarize the whole traced run; they replace
    * the per-operation medians of the same names. */
  def summary(): Map[String, Double] = Map.empty
}

/** Recursive delete and listing of a directory tree. */
object FileTree {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
  }
  def listFiles(p: Path): Set[Path] = if (!Files.exists(p)) Set.empty else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSet finally s.close()
  }
}
