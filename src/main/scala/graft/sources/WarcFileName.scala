package graft.sources

/**
 * The WARC file-name grammar — every name the engine reads, writes, stages or
 * mends is spelled here and nowhere else:
 *
 *  - data: `<name>.warc`, `.warc.gz`, `.warc.zst`, `.warc.bz2`, `.warc.xz`
 *    (the codec itself is sniffed from magic bytes, [[WarcIO.open]])
 *  - sidecar member index: `<data>.idx` (gzip and zstd, the member-framed codecs)
 *  - staging: `<final>.open` (gowarc's in-progress name, warc.go:189,244-248)
 *    and `<final>.open.<writeId>-<taskId>` (one attempt of the DSv2 writer);
 *    the writer stages a sidecar as `<final>.idx.open.<writeId>-<taskId>`
 *  - the published name of a staged file is `<final>`
 */
object WarcFileName {
  private val Framed = Seq(".warc.gz", ".warc.zst")
  private val Mendable = ".warc" +: Framed
  private val Data = Mendable ++ Seq(".warc.bz2", ".warc.xz")
  private val Idx = ".idx"
  private val Open = ".open"
  private val Staged = """(.+)\.open(\.[0-9a-f-]+-\d+)?""".r

  /** Extension the writer gives a file of `compression` codec (gzip | zstd | none). */
  def extOf(codec: String): String = codec match {
    case "gzip" => ".warc.gz"
    case "zstd" => ".warc.zst"
    case "none" => ".warc"
    case other => throw new IllegalArgumentException(
      s"unknown WARC compression '$other' (gzip | zstd | none)")
  }

  /** A published data file the scan reads. */
  def isData(name: String): Boolean = Data.exists(name.endsWith)

  /** A data file whose members may carry a sidecar index (gzip, zstd). */
  def isFramed(name: String): Boolean = Framed.exists(name.endsWith)

  def isIndex(name: String): Boolean = name.endsWith(Idx)

  def idxOf(data: String): String = data + Idx

  /** Scratch name an index build writes before publishing [[idxOf]]. */
  def indexBuildOf(data: String, id: String): String = idxOf(data) + ".build." + id

  /** The writer's attempt-unique staging name of `finalName`. */
  def stagedOf(finalName: String, attempt: String): String = s"$finalName$Open.$attempt"

  /** A staging file of any attempt of the write `writeId`. */
  def isAttemptOf(name: String, writeId: String): Boolean = name.contains(s"$Open.$writeId-")

  /** `<final>` of a staged name (`<final>.open` or
    * `<final>.open.<writeId>-<taskId>`); None for any other name. */
  def publishedOf(name: String): Option[String] = name match {
    case Staged(f, _) => Some(f)
    case _ => None
  }

  /** A plain, gzip or zstd data file, published or staged — what mend reads. */
  def isMendable(name: String): Boolean =
    Mendable.exists(publishedOf(name).getOrElse(name).endsWith)

  /** The member-index sidecars that may belong to data file `name`: its own
    * `.idx`; for `<final>.open` also `<final>.idx`; for a writer attempt
    * `<final>.idx` and the attempt's staged `<final>.idx.open.<attempt>`. */
  def sidecarsOf(name: String): Seq[String] = name match {
    case Staged(f, null) => Seq(idxOf(name), idxOf(f))
    case Staged(f, attempt) => Seq(idxOf(f), idxOf(f) + Open + attempt)
    case _ => Seq(idxOf(name))
  }
}
