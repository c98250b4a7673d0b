package perfbench

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** JSON text of maps, sequences and case classes, for the files the
  * JVM hands to run.py. */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def apply(v: AnyRef): String = Serialization.write(v)
}
