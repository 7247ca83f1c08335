package perfbench

/** Maps a Spark call site to the engine module that caused the work.
  *
  * Spark records, for every SQL execution and every stage, the stack of the
  * thread that triggered it (innermost frame first, starting at the first
  * frame outside Spark). The innermost `graft.` frame names the module: a
  * job launched by `Cache.getOrComputeBucketed` belongs to `cache` even when
  * the frame it writes was built by `Extracts`, because that is the call
  * that made the work happen.
  */
object Modules {
  /** Every module a job can be charged to, in report order. `spark` is work
    * with no engine frame and no enclosing benchmark span. */
  val all: Seq[String] = Seq(
    "queries", "tables", "ckpt", "extracts", "msr", "llmops", "streamy",
    "pipeline", "cache", "statetable", "artifacts", "engine", "graft_other",
    "spark")

  private val Frame = """^\s*(?:at\s+)?(graft\.[\w.$]+)\.([\w$]+)\(.*$""".r

  /** Module of the innermost `graft.` frame in `details`, if any. */
  def of(details: String): Option[String] =
    if (details == null) None
    else details.split('\n').iterator.collectFirst {
      case Frame(cls, method) => classify(cls.takeWhile(_ != '$'), method)
    }

  def classify(cls: String, method: String): String = cls.stripPrefix("graft.") match {
    case "QueriesCore" | "QueriesExt" => "queries"
    case "ops.Tables" => "tables"
    case "ops.Ckpt" => "ckpt"
    case "ops.Extracts" | "functions.GkBracket" => "extracts"
    case "ops.Msr" => "msr"
    case "ops.LlmOps" => "llmops"
    case c if c.startsWith("functions.") => "llmops"
    case c if c.startsWith("streaming.") => "streamy"
    case "Pipeline" => "pipeline"
    case "ops.Cache" => "cache"
    case "ops.StateTable" => "statetable"
    case "ops.Artifacts" => "artifacts"
    case "Engine" if method.contains("writeSingle") || method.contains("writeGroup") ||
        method.contains("writeArtifacts") => "artifacts"
    case "Engine" => "engine"
    case _ => "graft_other"
  }
}
