package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The command lines of the processes this JVM starts while `body` runs,
  * from a JFR recording of `jdk.ProcessStart` events.
  */
object Forks {
  def during[T](body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    val jfr = Files.createTempFile("forks", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withoutStackTrace()
      rec.start()
      val result = try body finally rec.stop()
      rec.dump(jfr)
      val cmds = RecordingFile.readAllEvents(jfr).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      (result, cmds)
    } finally { rec.close(); Files.deleteIfExists(jfr) }
  }
}
