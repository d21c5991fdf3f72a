package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

/** One span of a trace; times are epoch milliseconds. `op` names the op
  * (its job group) the span belongs to, or is empty.
  */
final case class Span(id: Int, parent: Int, name: String, op: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def duration: Double = end - start
}

/** Spans kept in memory while the benchmark runs and written once at the
  * end. The benchmark records its own layers (setup, run, op,
  * entry.construct, action); [[addSpark]] hangs Spark's SQL executions,
  * jobs and stages below them.
  */
final class Trace {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def add(parent: Int, name: String, op: String, start: Double, end: Double,
      attrs: Map[String, Double] = Map.empty): Int = {
    val id = spans.size + 1
    spans += Span(id, parent, name, op, start, end, attrs)
    id
  }

  def all: Seq[Span] = spans.toSeq

  /** Adds the recorder's SQL executions, jobs and stages of the traced ops.
    * A SQL execution belongs to its op's `entry.construct` span when it
    * starts before construction returns, else to its `action` span; a job
    * to its SQL execution, or by time to construct/action; a stage to the
    * latest job that lists it and started before it.
    */
  def addSpark(rec: Recorder): Unit = {
    val phaseOf = spans.filter(s => s.name == "entry.construct" || s.name == "action")
      .groupBy(_.op)
    def phaseAt(op: String, t: Double): Option[Span] = phaseOf.get(op).flatMap { ps =>
      val sorted = ps.sortBy(_.start)
      sorted.find(p => t <= p.end).orElse(sorted.lastOption)
    }
    val sqlSpan = mutable.Map.empty[Long, Int]
    for (s <- rec.sqls.values; p <- phaseAt(s.group, s.start.toDouble))
      sqlSpan(s.id) = add(p.id, "sql", s.group, s.start, s.end)
    val jobSpan = mutable.Map.empty[Int, Int]
    for (j <- rec.jobs.values) {
      val parent = sqlSpan.get(j.sql).orElse(phaseAt(j.group, j.start.toDouble).map(_.id))
      parent.foreach(p => jobSpan(j.id) = add(p, "job", j.group, j.start, j.end))
    }
    val jobsByStart = rec.jobs.values.toSeq.sortBy(_.start)
    for (st <- rec.stages.values) {
      val owner = jobsByStart.filter(j => j.start <= st.submit && j.stageIds.contains(st.id))
        .lastOption.flatMap(j => jobSpan.get(j.id))
      owner.foreach(p => add(p, "stage", st.group, st.submit, st.end,
        st.agg.attrs + ("stage_id" -> st.id.toDouble)))
    }
  }

  /** Self time per span name: each span's duration minus the part of its
    * interval that its children cover, summed over spans of that name.
    */
  def selfTimeS: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.toSeq.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var (cs, ce) = (Double.NaN, Double.NaN)
        for ((a, b) <- kids) {
          if (ce.isNaN || a > ce) {
            if (!ce.isNaN) covered += ce - cs
            cs = a; ce = b
          } else ce = math.max(ce, b)
        }
        if (!ce.isNaN) covered += ce - cs
        math.max(0.0, s.duration - covered) / 1e3
      }.sum
    }
  }

  def write(file: File, header: Map[String, String]): Unit = {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sb = new StringBuilder("{")
    header.foreach { case (k, v) => sb ++= s"${str(k)}: ${str(v)},\n" }
    sb ++= "\"spans\": [\n"
    sb ++= spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${str(k)}: ${Json.num(v)}" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${str(s.name)}, "op": ${str(s.op)}, """ +
        s""""start_ms": ${Json.num(s.start)}, "end_ms": ${Json.num(s.end)}, "attrs": {$attrs}}"""
    }.mkString(",\n")
    sb ++= "\n]}\n"
    Files.write(file.toPath, sb.toString.getBytes(UTF_8))
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
