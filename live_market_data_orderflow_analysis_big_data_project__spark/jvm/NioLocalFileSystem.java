package live_market_data_orderflow_analysis_big_data_project__spark.jvm;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/** Hadoop's local file system with chmod as a system call.  Without
 *  libhadoop, RawLocalFileSystem.setPermission forks a `chmod` process,
 *  and create and mkdirs call it for every file and directory. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** Refuses to replace an existing file, as the file system it stands in
   *  for does: pyspark's jars register Hive's ProxyLocalFileSystem for
   *  file://, and that rename returns false onto a file. */
  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    return !pathToFile(dst).isFile() && super.rename(src, dst);
  }

  public static class Raw extends RawLocalFileSystem {
    // declared OWNER_READ .. OTHERS_EXECUTE: mode bits 0400 down to 0001
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if (mode > 0777) { // sticky, setuid, setgid: not expressible in NIO
        super.setPermission(p, permission);
        return;
      }
      EnumSet<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < 9; i++) {
        if ((mode & (0400 >> i)) != 0) perms.add(BITS[i]);
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (NoSuchFileException e) {
        throw (IOException) new FileNotFoundException("File " + p + " does not exist").initCause(e);
      }
    }
  }
}
