package graft

/** A non-`file` Hadoop scheme for the FS-parameterized suite: behaves
  * like RawLocalFileSystem (no CRC sidecars — closer to an object
  * store's one-object-per-path model) but answers to `rawspec://`, so
  * every path string that assumed a bare local path, the `file` scheme
  * special-case, or a FileContext binding breaks loudly under test
  * instead of on the first real object-store deployment (the
  * reference's GCS read path, process-pipeline.py:320-326).
  *
  * Registered via `fs.rawspec.impl`; deliberately NO
  * `fs.AbstractFileSystem.rawspec.impl`, so StagedSwap.writeAtomic's
  * FileContext-unavailable fallback is the code path under test.
  */
class RawSpecFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "rawspec"
  override def getUri: java.net.URI = java.net.URI.create("rawspec:///")
}
