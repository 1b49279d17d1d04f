package graft.core

/** The data dir currently under oracle verification.
  *
  * The dynamic-oracle stashes ([[Stash]]: PcaModels, LogRegModels,
  * ContrastiveIvfOracle, BpeOracle) are keyed by data dir because the
  * models they bake into DuckDB SQL are corpus-derived; a long-lived
  * session that runs the same query over two dirs holds two entries.
  * `oracleEntries` must dump the one for the dir the gate is actually
  * replaying — picking "whichever ends with sf0.01, else an arbitrary
  * first" replays the wrong corpus's literals whenever the gate targets
  * another dir.
  * [[graft.Verify]] sets this before dumping `oracle_sql.json`; the
  * stashes resolve through [[pick]] and fall back to the old heuristic
  * only when no target is set (spec/dev contexts).
  */
object VerifyTarget {
  private val ref = new java.util.concurrent.atomic.AtomicReference[Option[String]](None)

  private def norm(d: String): String = d.replaceAll("/+$", "")

  def set(dir: String): Unit = { ref.set(Some(norm(dir))); () }

  /** Resolve a by-dir stash: the verification target's entry when set
    * and present, else the sf0.01 entry, else an arbitrary entry.
    */
  private def pick[M](byDir: scala.collection.Map[String, M]): Option[M] = {
    val target = ref.get().flatMap(t => byDir.collectFirst {
      case (d, m) if norm(d) == t => m
    })
    target
      .orElse(byDir.collectFirst { case (d, m) if norm(d).endsWith("sf0.01") => m })
      .orElse(byDir.values.headOption)
  }

  /** One dynamic oracle's per-dir stash: the query [[put]]s the model it
    * trained for its data dir, and the oracle dump bakes in the
    * [[current]] one, resolved as [[pick]] does.
    */
  final class Stash[M] {
    private val byDir = new java.util.concurrent.ConcurrentHashMap[String, M]()

    def put(dir: String, m: M): Unit = { byDir.put(dir, m); () }

    def current: Option[M] = {
      import scala.jdk.CollectionConverters._
      pick(byDir.asScala)
    }
  }
}
