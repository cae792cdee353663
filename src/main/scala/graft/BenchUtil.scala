package graft

/** Shared helpers for the benchmark mains (Bench / ScaleBench). */
object BenchUtil {

  /** The git commit the benchmark binary was measured on, plus the LIST
    * of tracked-modified paths when the tree is dirty — embedded in
    * every artifact JSON (VERDICT r8 item 3: SCALE_r8.json was labeled
    * "final code" but predated two code commits — an artifact must
    * carry the SHA it measured so `tools/check_artifacts.py` can reject
    * any that no longer matches HEAD at round end). A dirty tree gets
    * `-dirty` appended to the SHA, and the path list lets the gate pass
    * an artifact whose only dirt is outside the measured-code set and
    * fail one whose dirt touches src/main or build config. Returns
    * "unknown" outside a git checkout rather than failing the bench. */
  private def gitState(): (String, Seq[String]) =
    try {
      // NO whole-output trim (r12 bug, caught by its own artifact: a
      // porcelain first line " M NOTES_r12.md" lost its leading space
      // to trim, so drop(3) ate the first path character — and a
      // mangled "rc/main/…" would have dodged check_artifacts'
      // dirty-ENGINE prefix test). Trim is applied per use instead.
      def run(args: String*): String = {
        val p = new ProcessBuilder(args: _*)
          .redirectErrorStream(false).start()
        val out = new String(p.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        p.waitFor()
        out
      }
      val sha = run("git", "rev-parse", "HEAD").trim
      if (sha.isEmpty || sha.contains(" ")) ("unknown", Seq.empty)
      else {
        // -uno: untracked files (log drafts, scratch artifacts) cannot
        // change what a compiled bench binary measures — only TRACKED
        // modifications mark the measurement dirty. Porcelain rename
        // lines ("R  old -> new") contribute both sides; the XY status
        // prefix is exactly two chars + a space on every line.
        val dirty = run("git", "status", "--porcelain", "-uno")
          .linesIterator.filter(_.nonEmpty)
          .flatMap(_.drop(3).split(" -> ").map(_.trim))
          .filter(_.nonEmpty).toSeq.distinct.sorted
        if (dirty.nonEmpty) (s"$sha-dirty", dirty) else (sha, Seq.empty)
      }
    } catch { case _: Exception => ("unknown", Seq.empty) }

  /** The two artifact-identity JSON fields every bench main embeds:
    * `"commit": …, "dirty_paths": […]` — splice with surrounding
    * comma handling left to the caller. `compact = true` emits the
    * single-line `"k":v` spacing Bench's one-line contract output
    * uses (r11 ADVICE: Bench post-processed the pretty form with
    * `.replace(": ", ":")`, which would mangle a dirty path that
    * itself contains ": " and silently depended on this method's
    * exact spacing). */
  def commitJsonFields(compact: Boolean = false): String = {
    val (sha, dirty) = gitState()
    val sep = if (compact) ":" else ": "
    val listSep = if (compact) "," else ", "
    s""""commit"$sep"$sha", "dirty_paths"$sep${
      dirty.map(p => "\"" + p.replace("\\", "\\\\")
          .replace("\"", "\\\"") + "\"")
        .mkString("[", listSep, "]")}"""
  }
}
