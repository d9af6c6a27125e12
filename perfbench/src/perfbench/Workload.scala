package perfbench

/** One benchmark workload. The loop in [[Main]] calls `warmup`
  * once, `setup` several times (the last one's state is kept), then
  * `step` in a closed loop — the next operation starts only after the previous one
  * committed — until the measured time is spent, then `read` a few
  * times, then `checks`.
  *
  * `Op` is what one `step` did: source rows consumed and the number of
  * operations it counts as (a backfill round is one sync per stream, a
  * CDC batch is one). */
trait Workload {
  def name: String
  /** What `setup` does, listed in the output. */
  def setupContains: Seq[String]
  /** Generate the inputs and write the program-side starting state. */
  def setup(rep: Int): Unit
  def warmupContains: String
  /** Run the program once over small inputs, so JIT and codegen are
    * warm before timing. Called once, before the first `setup`. */
  def warmup(): Unit
  /** False once the generated inputs are used up. */
  def hasNext(i: Int): Boolean
  def step(i: Int, t: Tracer): Workload.Op
  /** Read the destination table with full output. */
  def read(t: Tracer): Unit
  /** Output checks against the generated inputs; `ops` is how many
    * steps ran. Each check names the operations it covers. */
  def checks(ops: Int): Seq[(Check, Seq[Int])]
  /** Extra layer work for the traced run (difference legs), after the loop. */
  def legs(t: Tracer): Unit = ()
  /** Operations `legs` ran that its checks cover, beyond the loop's. */
  def legOperations: Int = 0
  /** Layer counters known only to the workload (files, compactions…). */
  def counters: Map[String, Double] = Map.empty
  /** Spans whose jobs are split further by call-site source file. */
  def siteLayers: Map[String, Map[String, String]] = Map.empty
  /** Reads of the destination the loop must have sampled; after fewer
    * operations the final state is read again. */
  def minReads: Int = 3
  /** Reads of the destination after each operation; 0 when every
    * operation leaves the same state and `minReads` reads of the final
    * state sample it. */
  def readsPerOp: Int = 1
  /** The input properties the seed drew, as realized in the first
    * `ops` operations. */
  def inputs(ops: Int): String
  /** Reference throughput published by OLake for this kind of load. */
  def reference: Option[(String, Double)] = None
}

object Workload {
  /** `legS`: seconds of traced-only leg work inside the step, which the
    * traced run's end-to-end figures leave out. `cycleEnd`: the step
    * closed a cycle of the table's layout (a CDC compaction); the loop
    * only stops at the end of a cycle, so every run measures whole
    * cycles and leaves the table in the same state. */
  final case class Op(rows: Long, operations: Int, legS: Double = 0.0,
                      cycleEnd: Boolean = true)
}
