package sparkgraft.testfs;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.nio.file.Files;
import java.nio.file.StandardCopyOption;
import java.util.concurrent.atomic.AtomicLong;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.BlockLocation;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.LocatedFileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.RemoteIterator;

/**
 * Local-disk emulation of an object store for tests (scheme {@code mocks3}).
 *
 * Two properties of real object stores are reproduced:
 *
 * 1. rename is NOT a metadata move — it is a full byte COPY of the source
 *    object plus a delete (the S3 "rename-as-COPY" cost model; directory
 *    renames recurse file by file, since object stores have no directories
 *    to move either);
 * 2. every byte copied by a rename is counted in a static counter, so a
 *    test can measure how many bytes a commit strategy physically
 *    rewrote beyond the data it produced (bytes-written ratio).
 *
 * Every listStatus, the one LIST request a directory listing makes, is
 * counted too: from Python and from Spark's own file index inside the
 * JVM alike.
 *
 * Everything else delegates to RawLocalFileSystem with path translation:
 * {@code mocks3://bucket/k} maps to {@code <fs.mocks3.root>/bucket/k} on
 * local disk. Status/listing results are re-qualified back into the
 * mocks3 namespace (RawLocalFileSystem would otherwise leak the physical
 * local path into FileStatus, breaking Spark's listing).
 */
public class MockObjectStoreFileSystem extends RawLocalFileSystem {

  public static final AtomicLong RENAMED_BYTES = new AtomicLong();
  public static final AtomicLong RENAME_CALLS = new AtomicLong();
  public static final AtomicLong LIST_CALLS = new AtomicLong();

  public static long renamedBytes() { return RENAMED_BYTES.get(); }

  public static long renameCalls() { return RENAME_CALLS.get(); }

  public static long listCalls() { return LIST_CALLS.get(); }

  public static void resetCounters() {
    RENAMED_BYTES.set(0);
    RENAME_CALLS.set(0);
    LIST_CALLS.set(0);
  }

  private URI uri = URI.create("mocks3:///");
  private String root = "/tmp/mocks3";

  @Override
  public void initialize(URI name, Configuration conf) throws IOException {
    String auth = name.getAuthority() == null ? "" : name.getAuthority();
    this.uri = URI.create(name.getScheme() + "://" + auth);
    this.root = conf.get("fs.mocks3.root", "/tmp/mocks3");
    super.initialize(name, conf);
  }

  @Override
  public URI getUri() { return uri; }

  @Override
  public String getScheme() { return "mocks3"; }

  @Override
  protected Path getInitialWorkingDirectory() {
    // Runs during the superclass CONSTRUCTOR (field init), before this
    // class's fields exist — must not touch instance state (getUri()
    // would return null here).
    return new Path("mocks3:///");
  }

  @Override
  public File pathToFile(Path path) {
    URI u = path.toUri();
    String auth = u.getAuthority() == null ? "" : u.getAuthority();
    return new File(root + "/" + auth + u.getPath());
  }

  @Override
  public FileStatus getFileStatus(Path f) throws IOException {
    File file = pathToFile(f);
    if (!file.exists()) {
      throw new FileNotFoundException("mocks3: no such object: " + f);
    }
    // Re-qualify into the mocks3 namespace instead of the physical path.
    return new FileStatus(file.length(), file.isDirectory(), 1,
        getDefaultBlockSize(f), file.lastModified(), makeQualified(f));
  }

  @Override
  public FileStatus[] listStatus(Path f) throws IOException {
    LIST_CALLS.incrementAndGet();
    File dir = pathToFile(f);
    if (!dir.exists()) {
      throw new FileNotFoundException("mocks3: no such prefix: " + f);
    }
    if (dir.isFile()) {
      return new FileStatus[] { getFileStatus(f) };
    }
    String[] names = dir.list();
    if (names == null) {
      throw new IOException("mocks3: cannot list: " + f);
    }
    FileStatus[] out = new FileStatus[names.length];
    for (int i = 0; i < names.length; i++) {
      out[i] = getFileStatus(new Path(f, names[i]));
    }
    return out;
  }

  @Override
  public RemoteIterator<LocatedFileStatus> listLocatedStatus(Path f)
      throws IOException {
    final FileStatus[] st = listStatus(f);
    return new RemoteIterator<LocatedFileStatus>() {
      private int i = 0;

      @Override
      public boolean hasNext() { return i < st.length; }

      @Override
      public LocatedFileStatus next() throws IOException {
        FileStatus s = st[i++];
        BlockLocation[] locs =
            s.isFile() ? getFileBlockLocations(s, 0, s.getLen()) : null;
        return new LocatedFileStatus(s, locs);
      }
    };
  }

  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    File s = pathToFile(src);
    File d = pathToFile(dst);
    if (!s.exists()) {
      return false;
    }
    if (s.isDirectory()) {
      // No directory objects to move: recurse file by file, then drop
      // the now-empty source directory.
      boolean ok = true;
      File[] children = s.listFiles();
      if (children != null) {
        for (File c : children) {
          ok &= rename(new Path(src, c.getName()), new Path(dst, c.getName()));
        }
      } else {
        File parent = d.getParentFile();
        if (parent != null) {
          parent.mkdirs();
        }
        d.mkdirs();
      }
      return ok && s.delete();
    }
    File parent = d.getParentFile();
    if (parent != null) {
      parent.mkdirs();
    }
    long n = s.length();
    Files.copy(s.toPath(), d.toPath(), StandardCopyOption.REPLACE_EXISTING);
    RENAMED_BYTES.addAndGet(n);
    RENAME_CALLS.incrementAndGet();
    return s.delete();
  }
}
