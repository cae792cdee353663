package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Crash-safe live-directory replacement — the ONE copy of the
  * two-rename swap shared by [[IvfStore.retrain]],
  * [[DedupLedger.compact]], and [[NearDupLedger.compact]]: a rebuilt
  * dataset is written ASIDE first, then live→aside, tmp→live, delete
  * aside — so a complete copy of the data exists at every instant (a
  * delete-then-rename would leave a crash window with no copy at all).
  * A failed second rename rolls the aside back, keeping the old data
  * live. Rename is atomic per path on HDFS and local FS alike. */
private[sources] object DirSwap {

  /** Replace `live` with `tmp`, staging the old copy at `aside`. */
  def swapLive(conf: Configuration, live: Path, tmp: Path,
      aside: Path): Unit = {
    val fs = live.getFileSystem(conf)
    fs.delete(aside, true) // leftover from an earlier crashed swap
    require(fs.rename(live, aside), s"swap failed: $live -> $aside")
    if (!fs.rename(tmp, live)) {
      // Roll back so the old data stays live. If the rollback itself
      // fails, `live` is missing — tell the operator exactly where the
      // intact staged copy sits so they can restore it by hand.
      if (fs.rename(aside, live))
        throw new IllegalStateException(s"swap failed: $tmp -> $live")
      else
        throw new IllegalStateException(
          s"swap failed: $tmp -> $live, AND rollback $aside -> $live " +
            s"failed; $live is missing — restore the staged copy at $aside")
    }
    fs.delete(aside, true)
  }
}

/** The one `.properties` reader and writer for store metadata: the
  * ledgers' key rule and band geometry, the ingest commit manifests. */
private[sources] object MetaProps {

  /** The file's entries; None when it does not exist. */
  def read(conf: Configuration, f: Path): Option[Map[String, String]] = {
    val fs = f.getFileSystem(conf)
    if (!fs.exists(f)) None
    else {
      val props = new java.util.Properties()
      val in = fs.open(f)
      try props.load(in) finally in.close()
      Some(props.asScala.toMap)
    }
  }

  /** Create or overwrite `f` with `entries`. */
  def write(conf: Configuration, f: Path, comment: String,
      entries: (String, String)*): Unit = {
    val props = new java.util.Properties()
    entries.foreach { case (k, v) => props.setProperty(k, v) }
    val out = f.getFileSystem(conf).create(f, true)
    try props.store(out, comment) finally out.close()
  }
}
