package graft.ingest

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

/** Transparent single-file .xz decompression with a size cap (reference
  * sar_ingest.py:29-31,333-349, SURVEY.md §2.1 S6).
  *
  * Hadoop ships no XZ codec and the classpath is frozen, so decompression
  * shells out to the `xz` binary with the output capped — same contract as
  * the reference's lzma max_length guard. Driver-side: uploads are single
  * files, exactly like the reference's upload path.
  */
object XzIngest {

  val XzMagic: Array[Byte] = Array(0xFD.toByte, '7', 'z', 'X', 'Z', 0x00)

  def maxDecompressedBytes: Long =
    sys.env.get("SAR_MAX_DECOMPRESSED_BYTES").map(_.toLong)
      .getOrElse(512L * 1024 * 1024)

  def isXz(content: Array[Byte]): Boolean =
    content.length >= XzMagic.length && XzMagic.indices.forall(i =>
      content(i) == XzMagic(i))

  /** Decompress if the payload is xz; returns (bytes, stripped filename).
    * Throws IllegalArgumentException on corrupt input or cap overflow. */
  def maybeDecompress(content: Array[Byte], fileName: String)
      : (Array[Byte], String) = {
    if (!isXz(content)) return (content, fileName)
    val cap = maxDecompressedBytes
    val p =
      try new ProcessBuilder("xz", "-dc")
        .redirectError(ProcessBuilder.Redirect.DISCARD).start()
      catch { case e: java.io.IOException =>
        throw new IllegalArgumentException(
          s"$fileName: cannot decompress .xz — the 'xz' binary is not " +
            s"available (${e.getMessage})")
      }
    val writer = new Thread(() => {
      try { p.getOutputStream.write(content); p.getOutputStream.close() }
      catch { case _: java.io.IOException => () } // reader died first
    })
    writer.start()
    val buf = new Array[Byte](64 * 1024)
    val out = new ByteArrayOutputStream()
    val in = p.getInputStream
    var n = in.read(buf)
    var overflow = false
    while (n >= 0 && !overflow) {
      out.write(buf, 0, n)
      if (out.size() > cap) overflow = true else n = in.read(buf)
    }
    if (overflow) {
      p.destroyForcibly(); writer.join(); p.waitFor() // reap, don't leak
      throw new IllegalArgumentException(
        s"$fileName: decompressed size exceeds the ${cap / (1024 * 1024)} MB limit")
    }
    writer.join()
    if (p.waitFor() != 0)
      throw new IllegalArgumentException(s"$fileName: broken xz archive")
    val stripped =
      if (fileName.endsWith(".xz")) fileName.dropRight(3) else fileName
    (out.toByteArray, stripped)
  }

  /** Read a possibly-xz, possibly-sadf-JSON SAR file into parser-ready
    * text (the full preprocessing chain: S6 → S8 sniff → S7 → S1). A
    * file above the decompressed-size cap is refused before it is read. */
  def readSarFile(path: String): String = {
    val cap = maxDecompressedBytes
    require(Files.size(Paths.get(path)) <= cap,
      s"$path: file size exceeds the ${cap / (1024 * 1024)} MB limit")
    val raw = Files.readAllBytes(Paths.get(path))
    val (bytes, name) = maybeDecompress(raw, path)
    val text = new String(bytes, "UTF-8")
    if (SadfJson.isSadfJson(text)) SadfJson.toSarText(text)._1
    else if (BinarySarDetector.isBinarySar(bytes,
        Paths.get(name).getFileName.toString) &&
        !text.linesIterator.exists(_.matches("^\\d{2}:\\d{2}:\\d{2}.*")))
      // S8 conversion: shell `unset LANG; sar -A -t -f` like the
      // reference upload path; raises with an actionable message when
      // sysstat is absent (BinarySarConverter)
      BinarySarConverter.convert(bytes, name)._1
    else text
  }
}
