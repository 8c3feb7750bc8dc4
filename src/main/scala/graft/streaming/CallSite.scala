package graft.streaming

import org.apache.spark.SparkContext

/** Stage names for the destination steps of a trigger. A streaming query's
  * thread carries its start's call site, so every stage it runs would be
  * named `start at CdcPipeline.scala:<line>`; a step run through [[named]]
  * names its stages `name` instead (Spark UI, event logs,
  * `tools/sparktimeline.py`), and the thread's own call site is restored
  * after it. */
private[graft] object CallSite {

  private val ShortForm = "callSite.short"
  private val LongForm = "callSite.long"

  /** Run `body` with `name` as the stage name of the jobs it starts on
    * this thread; their long form is the step's own stack. */
  def named[T](sc: SparkContext, name: String)(body: => T): T = {
    val short = sc.getLocalProperty(ShortForm)
    val long = sc.getLocalProperty(LongForm)
    sc.setLocalProperty(ShortForm, name)
    sc.setLocalProperty(LongForm, null)
    try body
    finally {
      sc.setLocalProperty(ShortForm, short)
      sc.setLocalProperty(LongForm, long)
    }
  }
}
