// Times what Hadoop's local FileSystem pays per file create and per
// directory made when libhadoop is not loaded (it forks `chmod`), next
// to java.nio doing the same. Run from the repository root:
//   java -cp "/path/to/spark/jars/*" plans/r23/ForkCost.java /some/scratch/dir
// Prints the median of each case in ms.
import java.nio.file.*;
import java.nio.file.attribute.PosixFilePermissions;
import java.util.*;
import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.Path;

public class ForkCost {
  interface Body { void run(int i) throws Exception; }

  static double median(String name, int n, Body b) throws Exception {
    for (int i = 0; i < 5; i++) b.run(-1 - i);  // warm-up
    double[] ms = new double[n];
    for (int i = 0; i < n; i++) {
      long t0 = System.nanoTime();
      b.run(i);
      ms[i] = (System.nanoTime() - t0) / 1e6;
    }
    Arrays.sort(ms);
    double m = ms[n / 2];
    System.out.printf("%-44s n=%d median %.2f ms (p10 %.2f, p90 %.2f)%n",
        name, n, m, ms[n / 10], ms[n * 9 / 10]);
    return m;
  }

  public static void main(String[] args) throws Exception {
    Path root = new Path(args[0]);
    java.nio.file.Path nroot = Paths.get(args[0]);
    Files.createDirectories(nroot);
    FileSystem fs = FileSystem.getLocal(new Configuration());
    System.out.println("native hadoop loaded: " +
        org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded());
    java.nio.file.Path f = nroot.resolve("chmod-target");
    Files.write(f, new byte[] {1});
    int n = 60;
    median("fork: chmod 644 <file>", n, i ->
        new ProcessBuilder("chmod", "644", f.toString()).start().waitFor());
    median("hadoop checksummed create+close (1 KiB)", n, i -> {
      org.apache.hadoop.fs.FSDataOutputStream out =
          fs.create(new Path(root, "h-" + i), true);
      out.write(new byte[1024]);
      out.close();
    });
    median("java.nio create+close (1 KiB) + set perms", n, i -> {
      java.nio.file.Path p = nroot.resolve("n-" + i);
      Files.write(p, new byte[1024]);
      Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("rw-r--r--"));
    });
    median("hadoop mkdirs, 3 new levels", n, i ->
        fs.mkdirs(new Path(root, "hm-" + i + "/a/b")));
    median("java.nio createDirectories, 3 new levels", n, i ->
        Files.createDirectories(nroot.resolve("nm-" + i + "/a/b")));
  }
}
