package graftbench

import graft.meta.MetastoreReader
import graft.offset.{OffsetInfo, OffsetStore, OffsetValue}
import graft.pipeline._
import graft.sinks.{GraftSink, SinkResult}
import graft.sources.{GraftSource, SourceResult}
import org.apache.spark.sql.DataFrame

import java.time.LocalDate

/** Tracing wrappers over graft's public traits. Each records its
  * calls and busy time in a [[Spans]] under its layer's key; the
  * untraced run uses the unwrapped members. */
final class TracedTransformer(inner: Transformer, spans: Spans, key: String) extends Transformer {
  override def validate(ms: MetastoreReader, infoDate: LocalDate,
                        options: Map[String, String]): Reason =
    spans.time(key)(inner.validate(ms, infoDate, options))

  override def run(ms: MetastoreReader, infoDate: LocalDate,
                   options: Map[String, String]): DataFrame =
    spans.time(key)(inner.run(ms, infoDate, options))

  override def postProcess(outputTableName: String, ms: MetastoreReader,
                           infoDate: LocalDate, options: Map[String, String]): Unit =
    spans.time(key)(inner.postProcess(outputTableName, ms, infoDate, options))
}

final class TracedBookkeeper(inner: BookkeeperStore, spans: Spans) extends BookkeeperStore {
  private def t[T](body: => T): T = spans.time("pipeline.bookkeeper")(body)

  override def record(r: RunRecord): Unit = {
    if (r.status == "succeeded" || r.status == "failed") spans.addTask(r.startedAtMs, r.finishedAtMs)
    t(inner.record(r))
  }
  override def get(table: String, infoDate: LocalDate): Option[RunRecord] = t(inner.get(table, infoDate))
  override def isAlreadyRan(table: String, infoDate: LocalDate): Boolean =
    t(inner.isAlreadyRan(table, infoDate))
  override def latestSuccess(table: String): Option[LocalDate] = t(inner.latestSuccess(table))
  override def latestSuccessRecord(table: String, until: LocalDate): Option[RunRecord] =
    t(inner.latestSuccessRecord(table, until))
  override def all: Seq[RunRecord] = t(inner.all)
}

final class TracedSink(inner: GraftSink, spans: Spans) extends GraftSink {
  override def send(df: DataFrame, tableName: String, infoDate: LocalDate,
                    options: Map[String, String]): SinkResult = {
    val r = spans.time("sinks.send")(inner.send(df, tableName, infoDate, options))
    spans.add("sinks.rows", 0.0, r.recordsSent)
    r
  }
}

final class TracedOffsets(inner: OffsetStore, spans: Spans) extends OffsetStore {
  override def supports(offsetType: String): Boolean = spans.time("offset")(inner.supports(offsetType))
  override def getLatestOffset(table: String): Option[OffsetValue] =
    spans.time("offset")(inner.getLatestOffset(table))
  override def commit(table: String, offset: OffsetValue): Unit =
    spans.time("offset")(inner.commit(table, offset))
}

final class TracedSource(inner: GraftSource, spans: Spans) extends GraftSource {
  private def t[T](body: => T): T = spans.time("sources.feed_plan")(body)
  override def hasInfoDateColumn: Boolean = inner.hasInfoDateColumn
  override def getRecordCount(from: LocalDate, to: LocalDate): Long = t(inner.getRecordCount(from, to))
  override def getData(from: LocalDate, to: LocalDate, columns: Seq[String]): SourceResult =
    t(inner.getData(from, to, columns))
  override def getOffsetInfo: Option[OffsetInfo] = inner.getOffsetInfo
  override def getDataIncremental(offsetFrom: Option[OffsetValue], columns: Seq[String]): SourceResult =
    t(inner.getDataIncremental(offsetFrom, columns))
}

/** Counts task outcomes as the orchestrator reports them
  * (`pipeline.notified.<outcome>`). */
final class TracedNotifier(spans: Spans) extends PipelineNotificationTarget {
  override def onTaskCompleted(result: TaskResult, runDate: LocalDate): Unit = {
    val k = result match {
      case _: TaskResult.Succeeded => "succeeded"
      case _: TaskResult.Failed => "failed"
      case _: TaskResult.NotReady => "not_ready"
      case _: TaskResult.Skipped => "skipped"
    }
    spans.add(s"pipeline.notified.$k", 0.0)
  }
}

object Traced {
  /** Wrap every member of a parsed job that a layer owns: the
    * transformer (ingestion jobs are timed as source planning) and
    * the sink. */
  def jobs(jobs: Seq[JobDef], spans: Spans): Seq[JobDef] = jobs.map { j =>
    val key = if (j.transformer.isInstanceOf[IngestionTransformer]) "sources.plan"
      else if (j.sink.isDefined) "pipeline.sink_reader"
      else "pipeline.transformer"
    j.copy(
      transformer = new TracedTransformer(j.transformer, spans, key),
      sink = j.sink.map(st => st.copy(sink = new TracedSink(st.sink, spans))))
  }
}
