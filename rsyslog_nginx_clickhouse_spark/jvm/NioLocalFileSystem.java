package rsyslog_nginx_clickhouse_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's {@code file://} filesystem, setting permissions with a system
 * call instead of a child process.
 *
 * <p>Without libhadoop (pip-installed PySpark ships none),
 * {@code RawLocalFileSystem.setPermission} forks {@code chmod} for every
 * file and directory it creates. This filesystem sets the same bits through
 * {@link Files#setPosixFilePermissions}. A mode with bits beyond
 * {@code rwxrwxrwx} (the sticky bit) has no NIO form and takes Hadoop's own
 * path, as does every mode when libhadoop is loaded.
 */
public class NioLocalFileSystem extends LocalFileSystem {

    public NioLocalFileSystem() {
        super(new Raw());
    }

    static class Raw extends RawLocalFileSystem {
        @Override
        public void setPermission(Path p, FsPermission permission)
                throws IOException {
            int mode = permission.toShort();
            if ((mode & ~0777) != 0 || NativeIO.isAvailable()) {
                super.setPermission(p, permission);
                return;
            }
            // PosixFilePermission lists the nine bits from 0400 down to 0001
            Set<PosixFilePermission> bits =
                    EnumSet.noneOf(PosixFilePermission.class);
            for (PosixFilePermission bit : PosixFilePermission.values()) {
                if ((mode & (0400 >> bit.ordinal())) != 0) {
                    bits.add(bit);
                }
            }
            Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
        }
    }
}
