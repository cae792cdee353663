package graft.model

import java.sql.Timestamp

/** One row of the long SAR frame (reference: parse_into_polars.py:143-165,
  * pl_helpers2.py:50-82 — see SURVEY.md §1.1).
  *
  * @param header     section header string, device tag + AM/PM stripped,
  *                   e.g. "%usr %nice %sys ... %idle"
  * @param data       one sample line: optional sub-device token + space-
  *                   joined numeric strings, time prefix stripped,
  *                   whitespace squeezed
  * @param os_details "Linux 5.14... (host) 2023-06-05 _x86_64_ (8 CPU)" on
  *                   the first row of a file, "" elsewhere
  * @param restart    "... LINUX RESTART ... HH:MM:SS" on the first k rows
  *                   (k = reboot count), "" elsewhere
  * @param date       file date (from os_details) + per-line HH:MM:SS
  */
final case class SarLine(
    header: String,
    data: String,
    os_details: String,
    restart: String,
    date: Timestamp)

object SarModel {
  /** Sections removed from the long frame after parse
    * (reference pl_helpers2.py:99-105). */
  val unwantedHeaders: Seq[String] = Seq("CPU MHz", "INTR intr/s")

  /** Device tags stripped from the front of header strings
    * (reference pl_helpers2.py:110-118). */
  val deviceTags: Seq[String] =
    Seq("DEV", "IFACE", "CPU", "FCHOST", "TTY", "FILESYSTEM")
}
