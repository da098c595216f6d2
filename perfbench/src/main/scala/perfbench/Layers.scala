package perfbench

import graft.{Q, SparkEntry}
import graft.queries._

/** Catalogue module → benchmark layer. Every registered query belongs to
  * exactly one layer; [[attribution]] fails loudly when a query is missing
  * from every module list, sits in two, or a module list names a query the
  * registry does not serve. */
object Layers {

  val modules: Seq[(String, String, Seq[Q])] = Seq(
    ("PipelineQueries", "pipelines", PipelineQueries.all),
    ("IntegrationQueries", "pipelines", IntegrationQueries.all),
    ("EdgeMergeQueries", "pipelines", EdgeMergeQueries.all),
    ("RegulationQueries", "pipelines", RegulationQueries.all),
    ("NodeBuilderQueries", "pipelines", NodeBuilderQueries.all),
    ("GraphQueries", "graph", GraphQueries.all),
    ("DedupQueries", "dedup", DedupQueries.all),
    ("SimQueries", "sim", SimQueries.all),
    ("TextQueries", "text", TextQueries.all),
    ("TrainPrepQueries", "text", TrainPrepQueries.all),
    ("EventQueries", "streaming", EventQueries.all),
    ("CoreQueries", "ops", CoreQueries.all),
    ("TpchQueries", "ops", TpchQueries.all),
    ("SourceQueries", "sources", SourceQueries.all))

  final case class Entry(name: String, module: String, layer: String, q: Q)

  /** Registered query name → its single (module, layer). */
  def attribution(): Map[String, Entry] = {
    val listed = modules.flatMap { case (m, l, qs) => qs.map(q => Entry(q.name, m, l, q)) }
    val byName = listed.groupBy(_.name)
    val registered = SparkEntry.queries.keySet
    val unattributed = registered.filterNot(byName.contains).toSeq.sorted
    val ambiguous = byName.collect { case (n, es) if es.size > 1 =>
      s"$n (${es.map(_.module).mkString(", ")})" }.toSeq.sorted
    val unregistered = byName.keySet.diff(registered).toSeq.sorted
    require(unattributed.isEmpty && ambiguous.isEmpty && unregistered.isEmpty,
      "layer attribution broken: " +
        s"unattributed=[${unattributed.mkString(", ")}] " +
        s"ambiguous=[${ambiguous.mkString(", ")}] " +
        s"unregistered=[${unregistered.mkString(", ")}]")
    byName.map { case (n, es) => n -> es.head }
  }
}
