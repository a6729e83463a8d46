package graft.present

/** Deterministic result summarizer.
  *
  * The reference's final stage prompts the LLM to "extract the value from
  * inside the tuple" of the rendered result string and answer in prose
  * (`app-gradio.py:263-272`; stricter variant `all_in_one_PC.py:262-271`).
  * The template below reproduces that behavior without a model; an LLM
  * summarizer can be layered on the same inputs.
  */
object Summarizer {

  private val ScalarTuple = "\\[\\((-?[\\d.]+|'[^']*'),?\\)\\]".r

  /** @param question      the user's question (the template answers
    *                      from the result alone; a model-backed
    *                      summarizer reads it)
    * @param renderedResult engine output in `[(v,)]` form (`README.md:84`)
    */
  def summarize(@annotation.unused question: String,
      renderedResult: String): String =
    renderedResult match {
      case "[]" =>
        "There are no matching records for your question."
      case ScalarTuple(v) =>
        val value = v.stripPrefix("'").stripSuffix("'")
        s"The answer to your question is: $value."
      case other =>
        val n = countRows(other)
        s"Your query returned $n row${if (n == 1) "" else "s"}: $other"
    }

  private[present] def countRows(rendered: String): Int = {
    // rows are top-level '(' groups inside the brackets
    var depth = 0; var rows = 0
    var inStr = false; var prev = ' '
    rendered.foreach { c =>
      if (inStr) { if (c == '\'' && prev != '\\') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1; if (depth == 1) rows += 1
        case ')' => depth -= 1
        case _ =>
      }
      prev = c
    }
    rows
  }
}
