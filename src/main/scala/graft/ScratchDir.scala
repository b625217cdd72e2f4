package graft

/** Placement of throwaway on-disk state (the streaming replays'
  * checkpoints, the resume-probe query's job checkpoint): tmpfs when it is
  * writable and has at least [[MinFreeBytes]] usable, else the process
  * tmpdir. tmpfs spares those writes the disk I/O; the free-space floor
  * keeps a nearly full tmpfs, whose pages are the machine's memory, from
  * failing the write halfway. Production jobs configure a durable location
  * instead. */
private[graft] object ScratchDir {

  /** Usable bytes tmpfs must offer to be chosen: 256 MiB, about six times
    * the largest writer (the resume-probe query's ~40 MB of partial
    * sketches per run). A constant, not a setting. */
  final val MinFreeBytes: Long = 256L << 20

  /** `candidate` if it is a writable directory with at least `minFree`
    * usable bytes, else `java.io.tmpdir`. */
  def base(candidate: java.io.File = new java.io.File("/dev/shm"),
      minFree: Long = MinFreeBytes): java.io.File =
    if (candidate.isDirectory && candidate.canWrite && candidate.getUsableSpace >= minFree) candidate
    else new java.io.File(System.getProperty("java.io.tmpdir"))
}
