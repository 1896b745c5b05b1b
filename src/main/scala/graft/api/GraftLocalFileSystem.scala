package graft.api

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission

/** file://-scheme FileSystem for local deployments: RawLocalFileSystem
  * minus client-side POSIX permission ENFORCEMENT.
  *
  * Why it exists (r17 full-stack samples of the streaming micro-batch):
  * without libhadoop.so, `RawLocalFileSystem.setPermission` falls back to
  * `Shell.execCommand` — a fork/exec of `chmod` PER FILE — whenever the
  * requested mode has group != other bits (Spark's streaming checkpoint
  * dirs and part-file creates both do). Two of the sampled hot sites:
  *
  *  - `HDFSBackedStateStoreProvider.init` -> `mkdirs` -> setPermission
  *    forks INSIDE `StateStore.loadedProviders.synchronized` — a
  *    JVM-global lock — so every state partition's first load serializes
  *    the whole 32-core executor behind sequential fork/exec (the single
  *    largest non-idle frame of the streaming micro-batch profile).
  *  - `LocalFSFileOutputStream.<init>` -> setPermission forks once per
  *    created file: every parquet part file, checkpoint temp file and
  *    sink-manifest write pays a process spawn.
  *
  * The mode bits themselves carry no value here: files stay owned and
  * accessible by the creating user under the process umask (exactly what
  * java.io gives), and single-user local deployments — this sandbox, dev
  * laptops, CI — enforce nothing with them. Production checkpoints live
  * on hdfs:// or s3a:// whose FileSystem implementations this class never
  * touches (it is bound to the file:// scheme only, in GraftSession).
  * A deployment that DOES want enforced local modes can rebind
  * `fs.file.impl` to LocalFileSystem/RawLocalFileSystem on the session.
  *
  * setPermission is the single override: create/mkdirs paths reach it
  * virtually (`mkOneDirWithMode`, `LocalFSFileOutputStream` both call
  * the FileSystem method), so no other fork sites remain on this class.
  */
class GraftLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()
}
