package graft.sources

import org.apache.spark.sql.DataFrame

/** The reference engine's query over its native data format: a flat text
  * file of space-delimited base-10 32-bit integers (`NodeHandler.java:66,69`;
  * delimiter documented in `Design Document.pdf` p.2), sorted ascending.
  *
  * The format itself is owned by the `textint` connector
  * ([[graft.sources.v2.TextIntSource]]): its source reads each file by byte
  * range with the reference's boundary snap (`preprocessStart/End`,
  * `NodeHandler.java:119-200`), one task per `chunkSize` bytes, and its sink
  * writes space-joined `part-NNNNN.txt` files, the reference's output format
  * (`NodeHandler.java:79-85,260-279`).
  *
  * Unlike the reference, values ≥ 999,999 sort correctly: the reference's
  * merge uses 999999/999999999 as sentinel keys
  * (`NodeHandler.java:223,236-238,258,276`) and silently corrupts output for
  * values in that range; we inherit the format, not the bug (regression
  * pinned in TextIntSourceSpec).
  */
object TextIntIO {

  /** The reference's whole query: total-order ascending sort
    * (`ServerHandler.java:23-80`).
    */
  def sort(df: DataFrame): DataFrame = df.orderBy("value")
}
