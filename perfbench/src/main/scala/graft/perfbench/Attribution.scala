package graft.perfbench

/** Maps the call site Spark records for a job (`callSite.long`, also
  * `StageInfo.details`: one stack frame per line, innermost first) to the repo
  * module that launched it.
  *
  *  - the first frame, walking outward, of a named module wins
  *    (`MultilayerNetworkFrame` counts as `NetworkFrame`); frames of unnamed
  *    helpers such as `Tuning` are walked past;
  *  - a stack whose only graft frames are the benchmark's own is the
  *    benchmark materializing a result: `action`;
  *  - graft frames none of which is named: `other`;
  *  - no graft frame at all, e.g. a broadcast launched from a Spark pool
  *    thread: `unattributed`.
  */
object Attribution {

  val named: Seq[String] = Seq("SparkEntry", "NetworkFrame", "GraphAlgorithms",
    "Dedup", "Similarity", "TextAnalysis", "EventStream", "Multimodal", "Storage")

  val modules: Seq[String] = named ++ Seq("action", "other", "unattributed")

  private val aliases = Map("MultilayerNetworkFrame" -> "NetworkFrame")
  private val harnessPrefix = "graft.perfbench."

  /** Class name of one `StackTraceElement.toString` line, without any
    * `loader/module/` prefix.
    */
  private[perfbench] def frameClass(frame: String): Option[String] = {
    val call = frame.trim.stripPrefix("at ").takeWhile(_ != '(')
    val method = call.lastIndexOf('.')
    if (method <= 0) None else Some(call.substring(call.lastIndexOf('/') + 1, method))
  }

  def module(callSite: String): String = {
    var harness = false
    var other = false
    val graftClasses = callSite.split('\n').iterator.flatMap(frameClass)
      .filter(_.startsWith("graft."))
    while (graftClasses.hasNext) {
      val cls = graftClasses.next()
      if (cls.startsWith(harnessPrefix)) harness = true
      else {
        val simple = cls.substring(cls.lastIndexOf('.') + 1).takeWhile(_ != '$')
        val m = aliases.getOrElse(simple, simple)
        if (named.contains(m)) return m
        other = true
      }
    }
    if (other) "other" else if (harness) "action" else "unattributed"
  }
}
