package graft

import com.fasterxml.jackson.core.util.{DefaultIndenter, DefaultPrettyPrinter, Separators}
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper, ObjectWriter}

/** The program's one JSON codec: Spark's Jackson, which the Spark jars
  * put on the classpath. Both values are thread-safe and built once per
  * JVM. */
object Json {

  /** Compact writer and tree reader. A document followed by anything
    * but whitespace is malformed, not a document plus ignored bytes. */
  val mapper: ObjectMapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** `serde_json::to_string_pretty`'s shape: two-space indent on objects
    * and arrays, `"key": value`, and `[]`/`{}` for empty containers. */
  val pretty: ObjectWriter = {
    val indent = new DefaultIndenter("  ", "\n")
    val printer = new DefaultPrettyPrinter(Separators.createDefaultInstance()
      .withObjectFieldValueSpacing(Separators.Spacing.AFTER)
      .withObjectEmptySeparator("")
      .withArrayEmptySeparator(""))
    printer.indentObjectsWith(indent)
    printer.indentArraysWith(indent)
    mapper.writer(printer)
  }
}
