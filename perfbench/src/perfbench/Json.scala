package perfbench

import java.nio.file.{Files, Path}

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** JSON for the result file, the trace and the oracle SQL, by json4s. */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def write(v: AnyRef): String = Serialization.write(v)

  def writeFile(path: Path, v: AnyRef): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, write(v))
  }
}

/** The in-memory trace, as fields of the result file, at the end of a run. */
object TraceDump {
  def fields(t: Tracer, units: Seq[Main.UnitRec]): Map[String, Any] = {
    t.flush()
    val off = t.offsetMs
    val spans = t.spans.toSeq.map { s =>
      Seq(s.id, s.parent, s.trace, s.name, s.start / 1e6 + off, s.end / 1e6 + off)
    }
    val events = t.jobs.synchronized {
      Map(
        "jobs" -> t.jobs.jobs.toSeq.map(j =>
          Seq(j.id, j.group, j.desc, j.callSite, j.start, j.end, j.stages)),
        "tasks" -> t.jobs.tasks.toSeq.map(k => Seq(k.stage, k.launch, k.finish, k.runMs,
          k.cpuNs, k.gcMs, k.shuffleWrite, k.shuffleRead, k.spill)),
        "stage_submit" -> t.jobs.stageSubmit.toSeq.sortBy(_._1).map { case (id, at) =>
          Seq(id, at)
        })
    }
    events ++ Map(
      "spans" -> spans,
      "units" -> units.map(u => Map("id" -> u.id, "span" -> u.span,
        "plans" -> u.plans.map(p => Seq(p.analysisMs, p.optimizeMs, p.physicalMs,
          p.scanRows, p.scanBytes, p.outputRows)))))
  }
}
