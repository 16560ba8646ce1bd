package graft.core

/** W4 — manifest CSV encoding. Matches commons-text
  * `StringEscapeUtils.escapeCsv` (used by StreamingManifestWriter.kt:61):
  * a value is wrapped in double quotes iff it contains a comma, a double
  * quote, CR or LF; embedded quotes are doubled. The manifest line joins
  * eight escaped fields with `|`.
  */
object CsvEscape {

  def escapeCsv(value: String): String = {
    var i = 0
    while (i < value.length && { val c = value.charAt(i); c != ',' && c != '"' && c != '\r' && c != '\n' })
      i += 1
    if (i == value.length) value else "\"" + value.replace("\"", "\"\"") + "\""
  }

  final case class ManifestRecord(id: String,
                                  timestamp: Long,
                                  db: String,
                                  collection: String,
                                  source: String,
                                  outerType: String,
                                  innerType: String,
                                  originalId: String)

  /** One manifest CSV line incl. trailing newline — field order is
    * id|ts|db|collection|source|outerType|originalId|innerType
    * (StreamingManifestWriter.kt:58-59). */
  def csv(r: ManifestRecord): String = {
    val sb = new java.lang.StringBuilder(128)
    sb.append(escapeCsv(r.id)).append('|')
      .append(r.timestamp).append('|') // digits and '-': never quoted
      .append(escapeCsv(r.db)).append('|')
      .append(escapeCsv(r.collection)).append('|')
      .append(escapeCsv(r.source)).append('|')
      .append(escapeCsv(r.outerType)).append('|')
      .append(escapeCsv(r.originalId)).append('|')
      .append(escapeCsv(r.innerType)).append('\n')
      .toString
  }

  def topicName(db: String, collection: String): String = s"db.$db.$collection"

  /** Manifest file name for one input file
    * (HBaseWriter.kt:124-127): `db.<db>.<collection>-%06d.csv` with the
    * UNcoalesced collection name. */
  def manifestFileName(db: String, uncoalescedCollection: String, fileNumber: Int): String =
    f"${topicName(db, uncoalescedCollection)}-$fileNumber%06d.csv"
}
