package flinkorcsink.localfs;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.FileTime;
import java.nio.file.attribute.GroupPrincipal;
import java.nio.file.attribute.UserPrincipal;
import java.util.Map;
import java.util.concurrent.ConcurrentHashMap;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.CommonConfigurationKeys;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local filesystem without a forked process per call.
 *
 * <p>Without libhadoop ({@code NativeIO.isAvailable()} false, as in the
 * pyspark wheel) {@link RawLocalFileSystem} forks {@code chmod} for every
 * permission it sets (each file and {@code .crc} it creates, each directory
 * it makes), {@code ls -ld} for every permission, owner or group it reads,
 * and {@code readlink} for every link status. This subclass does the same
 * work through {@code java.nio} on the calling thread. Statuses carry the
 * parent's fields (length, directory flag, replication 1, block size, times,
 * permission with the sticky bit, owner, group, qualified path), read with
 * one {@code stat} instead of the parent's four plus a lazy {@code ls}.
 * Owner and group names are cached by id for
 * {@code hadoop.security.uid.cache.secs}, as Hadoop's native path does.
 * Only {@code setOwner} (a forked {@code chown}) is left to the parent.
 */
public class RawNioLocalFileSystem extends RawLocalFileSystem {

  private static final String ATTRIBUTES =
      "unix:size,isDirectory,lastModifiedTime,lastAccessTime,mode,uid,gid";
  private static final Map<Integer, Name> USERS = new ConcurrentHashMap<>();
  private static final Map<Integer, Name> GROUPS = new ConcurrentHashMap<>();

  /** A cached owner or group name. */
  private static final class Name {
    final String name;
    final long expires;

    Name(String name, long expires) {
      this.name = name;
      this.expires = expires;
    }
  }

  private long blockSize;
  private long nameCacheNanos;

  @Override
  public void initialize(URI uri, Configuration conf) throws IOException {
    super.initialize(uri, conf);
    blockSize = getDefaultBlockSize(new Path(uri));
    nameCacheNanos = 1_000_000_000L * conf.getLong(
        CommonConfigurationKeys.HADOOP_SECURITY_UID_NAME_CACHE_TIMEOUT_KEY,
        CommonConfigurationKeys.HADOOP_SECURITY_UID_NAME_CACHE_TIMEOUT_DEFAULT);
  }

  /** {@code chmod(2)} with the full mode, sticky bit included. */
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    File file = pathToFile(p);
    try {
      Files.setAttribute(file.toPath(), "unix:mode", (int) permission.toShort());
    } catch (IOException e) {
      throw missing(file, p, e);
    }
  }

  /** The status of {@code f}, links followed, as one stat. */
  @Override
  public FileStatus getFileStatus(Path f) throws IOException {
    File file = pathToFile(f);
    Map<String, Object> a = attributes(file, f, ATTRIBUTES);
    long now = System.nanoTime();
    String owner = cached(USERS, a.get("uid"), now);
    String group = cached(GROUPS, a.get("gid"), now);
    if (owner == null || group == null) {
      a = attributes(file, f, ATTRIBUTES + ",owner,group");
      owner = ((UserPrincipal) a.get("owner")).getName();
      group = ((GroupPrincipal) a.get("group")).getName();
      USERS.put((Integer) a.get("uid"), new Name(owner, now + nameCacheNanos));
      GROUPS.put((Integer) a.get("gid"), new Name(group, now + nameCacheNanos));
    }
    return new FileStatus(
        (Long) a.get("size"),
        (Boolean) a.get("isDirectory"),
        1,
        blockSize,
        ((FileTime) a.get("lastModifiedTime")).toMillis(),
        ((FileTime) a.get("lastAccessTime")).toMillis(),
        new FsPermission((short) ((Integer) a.get("mode") & 01777)),
        owner,
        group,
        new Path(file.getPath()).makeQualified(getUri(), getWorkingDirectory()));
  }

  /**
   * The parent lists a directory through {@link #getFileStatus}, skipping
   * entries that vanish in between; a plain file it returns as a lazily
   * loaded status, whose permission read would fork.
   */
  @Override
  public FileStatus[] listStatus(Path f) throws IOException {
    if (pathToFile(f).isDirectory()) {
      return super.listStatus(f);
    }
    return new FileStatus[] {getFileStatus(f)};
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    FileStatus fi = linkStatus(f);
    if (fi.isSymlink()) {
      fi.setSymlink(
          FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
    }
    return fi;
  }

  @Override
  public Path getLinkTarget(Path f) throws IOException {
    return linkStatus(f).getSymlink();
  }

  /**
   * The parent's unresolved link status. The link is read from
   * {@code new File(f.toString())}, the file the parent hands to
   * {@code readlink}, so a scheme-qualified path reads as no link here as
   * it does there.
   */
  private FileStatus linkStatus(Path f) throws IOException {
    String target;
    try {
      target = Files.readSymbolicLink(new File(f.toString()).toPath()).toString();
    } catch (IOException | UnsupportedOperationException e) {
      target = "";
    }
    try {
      FileStatus fs = getFileStatus(f);
      if (target.isEmpty()) {
        return fs;
      }
      return new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
          fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(),
          fs.getOwner(), fs.getGroup(), new Path(target), f);
    } catch (FileNotFoundException e) {
      if (target.isEmpty()) {
        throw e;
      }
      // a dangling link
      return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
          new Path(target), f);
    }
  }

  private static Map<String, Object> attributes(File file, Path f, String names)
      throws IOException {
    try {
      return Files.readAttributes(file.toPath(), names);
    } catch (IOException e) {
      throw missing(file, f, e);
    }
  }

  private static String cached(Map<Integer, Name> names, Object id, long now) {
    Name n = names.get((Integer) id);
    return n != null && now - n.expires < 0 ? n.name : null;
  }

  /**
   * The parent's "does not exist" error when {@code file} is gone, as the
   * parent's {@code File.exists} check would have found it.
   */
  private static IOException missing(File file, Path p, IOException e) {
    if (!(e instanceof NoSuchFileException) && file.exists()) {
      return e;
    }
    FileNotFoundException fnf = new FileNotFoundException("File " + p + " does not exist");
    fnf.initCause(e);
    return fnf;
  }
}
