package graft

import com.fasterxml.jackson.core.io.JsonStringEncoder

/** The one JSON string escaper behind every hand-built JSON body
  * (heartbeats, status, the agent monitor, the Verify and Bench artifacts):
  * Jackson's encoder escapes `"`, `\` and every control character, so a
  * stack trace or a multi-line SQL text stays one valid JSON string. */
object Json {
  /** `s` as a quoted JSON string literal. */
  def str(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
}
