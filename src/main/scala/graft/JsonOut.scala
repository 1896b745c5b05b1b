package graft

/** JSON emission helpers shared by the artifact-writing mains (Bench,
  * Verify): one string escaper and one decimal formatter, so
  * hand-rolled copies cannot drift (an unescaped path field is one
  * stray quote away from an unparseable artifact). */
object JsonOut {

  /** Escape backslash, quote, ALL control chars (<0x20), and every
    * surrogate — a tab or CR in builder-authored SQL (or a path) would
    * otherwise make the driver's json.load fail and silently zero a
    * round artifact. Surrogates are escaped because error messages get
    * TRUNCATED (.take(n) can split a pair) and Files.writeString throws
    * on malformed UTF-16 — after the stdout line already printed, the
    * file artifact would be left stale from a prior run. Escaping a
    * VALID pair as two \\uXXXX units is still correct JSON for the
    * same code point. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' || (c >= '\ud800' && c <= '\udfff') => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Locale.ROOT %.3f: a comma-decimal default locale would emit
    * "0,123" and make the JSON unparseable. Non-finite values emit
    * JSON null — %.3f would print the bare tokens NaN/Infinity, which
    * strict parsers (json.loads, jq, JSON.parse) reject wholesale,
    * zeroing the round artifact this module exists to keep parseable
    * (r13 review). */
  def sec3(d: Double): String =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) "null"
    else String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** Commit hash of the repo the JVM runs in, read straight from
    * `.git` (no subprocess): artifacts stamp this so artifact-vs-code
    * staleness is checkable from the JSON alone — r7's scale-probe
    * artifact silently described code two commits older than HEAD.
    * "unknown" when not a git checkout (or a detached/packed layout
    * this reader doesn't handle). */
  def gitHead(repoDir: String = "."): String =
    try {
      import java.nio.file.{Files, Path, Paths}
      def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8").trim
      // a linked `git worktree` checkout has .git as a FILE holding
      // "gitdir: <path>" — readAllBytes on the directory path threw and
      // every artifact stamped "unknown", silently disabling the
      // staleness check the field exists for (r13 review)
      val dotGit = Paths.get(repoDir, ".git")
      val gitDir: Path =
        if (Files.isDirectory(dotGit)) dotGit
        else {
          val target = read(dotGit).stripPrefix("gitdir:").trim
          val p = Paths.get(target)
          if (p.isAbsolute) p else Paths.get(repoDir).resolve(p).normalize()
        }
      // shared refs/packed-refs live in the COMMON dir (the main
      // repo's .git) when this is a worktree gitdir
      val commonDir: Path = {
        val cd = gitDir.resolve("commondir")
        if (Files.exists(cd)) {
          val t = Paths.get(read(cd))
          if (t.isAbsolute) t else gitDir.resolve(t).normalize()
        } else gitDir
      }
      val head = read(gitDir.resolve("HEAD"))
      if (head.startsWith("ref: ")) {
        val ref = head.stripPrefix("ref: ")
        Seq(gitDir.resolve(ref), commonDir.resolve(ref)).find(Files.exists(_)) match {
          case Some(refPath) => read(refPath)
          case None =>
            // packed-refs fallback: "<sha> <refname>" lines.
            // Files.readAllLines closes the file — the old
            // Source.fromFile leaked its fd on every call (r13 review)
            import scala.jdk.CollectionConverters._
            Files.readAllLines(commonDir.resolve("packed-refs")).asScala
              .collectFirst { case l if l.endsWith(" " + ref) => l.split(" ")(0) }
              .getOrElse("unknown")
        }
      } else head // detached HEAD is the sha itself
    } catch { case scala.util.control.NonFatal(_) => "unknown" }

  /** Extract the string value of `field` from a flat JSON object,
    * honoring escapes — the ONE copy shared by the HTTP surfaces
    * (JobServerHttp, SchemaRegistryHttp), which had drifted as twins.
    *
    * The scan tracks STRING state and NESTING DEPTH: a candidate
    * counts as the key only when it is a string starting at depth 1
    * (the top-level object) and is followed by `:`. The previous
    * preceded-by-`{`-or-`,` heuristic rejected string-VALUE fakes but
    * not NESTED-object keys — `{"metadata":{"query":"SELECT evil"},
    * "query":"SELECT real"}` matched the inner key first and the
    * server would silently deploy the wrong SQL (r13 review). */
  /** Index of the first character of a depth-1 `"field":` value, when
    * the field is present at all — the ONE scanner behind
    * jsonStringField and jsonHasField (r17 review: a presence probe
    * duplicating the escape-honoring key scan would drift). */
  private def jsonFieldValueStart(body: String, field: String): Option[Int] = {
    val key = "\"" + field + "\""
    var i = 0
    var depth = 0
    while (i < body.length) {
      body(i) match {
        case '{' | '[' => depth += 1; i += 1
        case '}' | ']' => depth -= 1; i += 1
        case '"' =>
          val isKey = depth == 1 && body.startsWith(key, i) && {
            var n = i + key.length
            while (n < body.length && body(n).isWhitespace) n += 1
            n < body.length && body(n) == ':'
          }
          if (isKey) {
            var j = i + key.length
            while (j < body.length && body(j) != ':') j += 1
            j += 1
            while (j < body.length && body(j).isWhitespace) j += 1
            return if (j >= body.length) None else Some(j)
          } else {
            // skip the whole string, honoring escapes — keys and
            // values inside it can never be mistaken for the field
            i += 1
            while (i < body.length && body(i) != '"') {
              if (body(i) == '\\') i += 1
              i += 1
            }
            i += 1
          }
        case _ => i += 1
      }
    }
    None
  }

  /** Is a depth-1 field PRESENT (any value type)? Distinguishes
    * "absent, apply the default" from "present but not a string —
    * reject" (r17 review: a JSON-number version silently deployed as
    * the default). */
  def jsonHasField(body: String, field: String): Boolean =
    jsonFieldValueStart(body, field).isDefined

  def jsonStringField(body: String, field: String): Option[String] = {
    jsonFieldValueStart(body, field) match {
      case None => None
      case Some(start) =>
        var j = start
        if (j >= body.length || body(j) != '"') return None
        j += 1
        val sb = new StringBuilder
        while (j < body.length && body(j) != '"') {
          body(j) match {
            case '\\' if j + 1 < body.length =>
              body(j + 1) match {
                case 'n' => sb += '\n'; j += 2
                case 'r' => sb += '\r'; j += 2
                case 't' => sb += '\t'; j += 2
                case 'b' => sb += '\b'; j += 2
                case 'f' => sb += '\f'; j += 2
                case 'u' if j + 5 < body.length
                    && body.substring(j + 2, j + 6).forall(h => Character.digit(h, 16) >= 0) =>
                  // hex validated FIRST: \uZZZZ in a client body must be
                  // a malformed-input 4xx, not a NumberFormatException 500
                  sb += Integer.parseInt(body.substring(j + 2, j + 6), 16).toChar; j += 6
                case c => sb += c; j += 2
              }
            case c => sb += c; j += 1
          }
        }
        if (j >= body.length) None else Some(sb.toString)
    }
  }
}
