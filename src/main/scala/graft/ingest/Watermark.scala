package graft.ingest

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.time.format.DateTimeParseException

/** Progress-file watermark: a single `YYYY-MM-DD` line recording the last
  * fully-completed day (audit_data_ingest.py:71-73,213-232).
  *
  * Semantics preserved from the reference:
  *  - missing file  => None => process everything (:227-230)
  *  - malformed date => raise (:220-226)
  *  - the filter applied against it is STRICTLY greater-than (:33), so the
  *    recorded day itself is never reprocessed.
  *
  * One day codec: days are read only by `LocalDate.parse` (ISO_LOCAL_DATE,
  * a STRICT resolver) and written only by `LocalDate.toString`, so a name
  * is a day exactly when it is that day's canonical string. Like the
  * reference's `strptime("%Y-%m-%d")` it rejects `2021-02-30`; unlike it,
  * it also rejects one-digit fields (`2021-2-3` is skipped), since taking
  * them would let two dir names map to one day again.
  */
object Watermark {

  /** Read the watermark; None means "no progress yet, process all days". */
  def read(progressFile: String): Option[LocalDate] = {
    val p = Paths.get(progressFile)
    if (!Files.exists(p)) None
    else {
      val raw = new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim
      try Some(LocalDate.parse(raw))
      catch {
        case e: DateTimeParseException =>
          throw new IllegalStateException(s"Corrupt progress file $progressFile: '$raw'", e)
      }
    }
  }

  /** Overwrite the watermark with the completed day through
    * [[Publish.file]]: temp file + rename (ATOMIC_MOVE where the file
    * system has it), so a PROCESS crash mid-commit leaves either the old
    * date or the new one, never a half-written date (stronger than the
    * reference's plain overwrite, same observable semantics). Nothing is
    * fsynced: after a power loss or OS crash the commit may be lost (the
    * day re-runs, at-least-once) or the file may be left empty, which
    * [[read]] rejects as corrupt. A failed write or move deletes the temp
    * file and rethrows.
    */
  def commit(progressFile: String, completedDay: LocalDate): Unit =
    Publish.file(Paths.get(progressFile), completedDay.toString.getBytes(StandardCharsets.UTF_8))

  /** Parse a `YYYY-MM-DD` day-directory name; None for non-dated dirs,
    * which the reference skips with a warning (audit_data_ingest.py:30-32).
    */
  def parseDay(name: String): Option[LocalDate] =
    try Some(LocalDate.parse(name))
    catch { case _: DateTimeParseException => None }

  /** The reference's `filter_date`: keep strictly newer days only (:33). */
  def isPending(day: LocalDate, watermark: Option[LocalDate]): Boolean =
    watermark.forall(w => day.isAfter(w))
}
