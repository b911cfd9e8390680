package graft

import graft.plans.ScaleLint

/** One sweep of the whole query catalog per data dir and test JVM, read by
  * every spec that checks each catalog query: each query is built once,
  * linted (the logical check and the physical walk of that DataFrame's
  * executed plan), then counted. Building all queries is most of such a
  * check's cost, so the sweep is shared instead of repeated per spec. */
object CatalogSweep {

  /** One query's sweep: its lint findings (logical, physical) or the
    * construction error, and its row count or what stopped the count. */
  final case class Swept(
      lints: Either[String, (Seq[ScaleLint.Finding], Seq[ScaleLint.Finding])],
      rows: Either[Throwable, Long])

  private val sweeps = new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Swept)]]()

  /** (query name, sweep) over the tables in `dir`, in catalog order. */
  def results(dir: String): Seq[(String, Swept)] = sweeps.computeIfAbsent(dir, _ =>
    QueryCatalog.all.map { q =>
      val swept =
        try {
          val df = q.fn(SparkSuite.session, dir)
          val lints = (ScaleLint.check(df), ScaleLint.lintPhysical(df.queryExecution.executedPlan))
          Swept(Right(lints), try Right(df.count()) catch { case e: Throwable => Left(e) })
        } catch {
          case e: Throwable => Swept(Left(s"construction failed: ${e.getMessage}"), Left(e))
        }
      q.name -> swept
    })
}
