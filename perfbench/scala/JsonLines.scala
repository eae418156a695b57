package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON-lines output: one object per line, `"type"` first. */
final class JsonLines(path: String) {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val w = new BufferedWriter(
    new OutputStreamWriter(new FileOutputStream(path), StandardCharsets.UTF_8))

  def obj(kind: String, fields: (String, Any)*): Unit = synchronized {
    w.write(mapper.writeValueAsString(
      scala.collection.immutable.ListMap((("type" -> kind) +: fields): _*)))
    w.newLine()
    w.flush()
  }

  def close(): Unit = w.close()
}
