"""spark-submit entry point for the extraction job.

Cluster launch:
    spark-submit --py-files dist/pyxml_spark.zip pyxml_spark/jobs/extract.py \
        --input <iceberg-table-or-parquet-path> --output <path> \
        --manifest <path> --buckets 4096

Sandbox smoke (generates deterministic transcripts first):
    python3 pyxml_spark/jobs/extract.py --rows 2000 --cpus 8

The plain ``python3 jobs/...`` launch maps the JVM's classes from a JDK
dynamic class-data-sharing archive under ``${XDG_CACHE_HOME:-~/.cache}/
pyxml_spark/`` (see ``build_session``): the first launch per Java/Spark
install writes it at JVM exit, later launches reach a session in about
half the time. Under ``spark-submit`` the driver JVM exists before this
file runs, so put the archive on the submit line: make it once with
``--driver-java-options "-XX:ArchiveClassesAtExit=<file>"``, then pass
``--driver-java-options "-XX:SharedArchiveFile=<file> -Xlog:cds=off"``
next to ``--driver-memory 8g``, both times with ``SPARK_CONF_DIR`` set to
an empty directory (a non-empty directory on the classpath voids the
archive without a word).
"""
from __future__ import annotations

import argparse
import atexit
import contextlib
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time


class _ClassArchive:
    """The driver JVM's class-data-sharing archive for one launch.

    ``options`` is the ``spark.driver.extraJavaOptions`` value: map the
    published archive if the one for this install exists, else dump one
    at JVM exit into a per-process temporary file that ``publish`` renames
    into place once that JVM exited with status 0 (a truncated archive
    crashes the JVM that maps it). ``options`` is None, and the launch
    goes as without an archive, when another classpath source is set, the
    conf directory holds a real file, or the cache directory cannot be
    written. A missing or foreign ``SharedArchiveFile`` also switches off
    the JDK's own class sharing, so the flag names only a published file.

    The archive is keyed on the ``java`` binary and ``libjvm.so``, the
    jars directory listing, the conf directory, whether compressed oops
    apply, and the pyspark version; publishing removes other keys'
    archives (168 MB each). It lives under ``${XDG_CACHE_HOME:-~/.cache}``,
    not in a temporary directory that a benchmark run deletes.
    """

    QUIET = '-Xlog:cds=off -Xlog:cds+dynamic=off'

    def __init__(self, memory: str):
        import pyspark
        from pyspark.find_spark_home import _find_spark_home
        self.options = self.dump = None
        env = os.environ
        # the launcher puts these on the classpath too
        if any(env.get(v) for v in ('HADOOP_CONF_DIR', 'YARN_CONF_DIR',
                                    'SPARK_DIST_CLASSPATH',
                                    'PYSPARK_SUBMIT_ARGS')):
            return
        home = _find_spark_home()
        conf = os.path.abspath(env.get('SPARK_CONF_DIR')
                               or os.path.join(home, 'conf'))
        if os.path.isdir(conf) and any(not f.endswith('.template')
                                       for f in os.listdir(conf)):
            return
        size = re.fullmatch(r'(\d+)([kmgt]?)b?', memory.strip().lower())
        java = (os.path.join(env['JAVA_HOME'], 'bin', 'java')
                if env.get('JAVA_HOME') else shutil.which('java'))
        if size is None or java is None:
            return
        java = os.path.realpath(java)
        heap = int(size.group(1)) << {'k': 10, 'm': 20, 'g': 30,
                                      't': 40}[size.group(2) or 'm']
        jars = os.path.join(home, 'jars')
        facts = [[p, self._stat(p)] for p in (java, os.path.join(
            os.path.dirname(os.path.dirname(java)), 'lib', 'server',
            'libjvm.so'))]
        facts += [sorted([f, self._stat(os.path.join(jars, f))]
                         for f in os.listdir(jars))
                  if os.path.isdir(jars) else None,
                  conf, heap < 32 << 30, pyspark.__version__]
        key = hashlib.sha256(json.dumps(facts).encode()).hexdigest()[:16]
        self.root = os.path.join(os.path.abspath(
            env.get('XDG_CACHE_HOME') or os.path.expanduser('~/.cache')),
            'pyxml_spark')
        self.conf_dir = os.path.join(self.root, 'conf')
        try:
            os.makedirs(self.conf_dir, exist_ok=True)
        except OSError:
            return
        if (re.search(r'[\s"\'\\]', self.root) or os.listdir(self.conf_dir)
                or not os.access(self.root, os.W_OK)):
            return
        self.final = os.path.join(self.root, f'classes-{key}.jsa')
        if os.path.isfile(self.final):
            self.options = f'-XX:SharedArchiveFile={self.final} {self.QUIET}'
        else:
            self.dump = f'{self.final}.{os.getpid()}.tmp'
            self.options = f'-XX:ArchiveClassesAtExit={self.dump} {self.QUIET}'

    @contextlib.contextmanager
    def launch_env(self):
        """``SPARK_CONF_DIR`` names the empty directory for the launch only
        (the launcher puts it on the JVM's classpath)"""
        saved = os.environ.get('SPARK_CONF_DIR')
        if self.options is not None:
            os.environ['SPARK_CONF_DIR'] = self.conf_dir
        try:
            yield
        finally:
            if saved is None:
                os.environ.pop('SPARK_CONF_DIR', None)
            else:
                os.environ['SPARK_CONF_DIR'] = saved

    def publish(self, proc) -> None:
        """wait for the creating JVM; publish its dump if it exited with
        status 0, drop it otherwise, and remove other keys' archives and
        the dumps of processes that are gone"""
        try:
            rc = proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            rc = None
        if rc == 0 and os.path.isfile(self.dump):
            os.replace(self.dump, self.final)
        with contextlib.suppress(FileNotFoundError):
            os.remove(self.dump)
        for f in os.listdir(self.root):
            path = os.path.join(self.root, f)
            if f.startswith('classes-') and path != self.final and not (
                    f.endswith('.tmp') and self._alive(f.split('.')[-2])):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(path)

    def publish_at_exit(self, gateway) -> None:
        """exit hook of a creating launch: shut the gateway down if it is
        still up (its JVM exits on stdin EOF), then publish"""
        from pyspark import SparkContext
        if SparkContext._gateway is gateway:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if not gateway.proc.stdin.closed:
            gateway.proc.stdin.close()
        self.publish(gateway.proc)

    @staticmethod
    def _stat(path: str):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return [st.st_size, st.st_mtime_ns]

    @staticmethod
    def _alive(pid: str) -> bool:
        try:
            os.kill(int(pid), 0)
        except (ValueError, ProcessLookupError):
            return False
        except PermissionError:
            pass
        return True


def build_session(cpus: int, app: str = 'pyxml-spark-extract',
                  memory: str = None):
    """local[N] session with the tuned arrow/shuffle defaults. ``memory``
    sizes the single local JVM (driver+executor in local mode; default 8g —
    Spark's out-of-the-box 1g heap OOMs near 10^6-row shuffles); override
    with SPARK_GRAFT_MEMORY or the argument. NOTE: under ``spark-submit``
    the driver JVM already exists before this runs, so the setting is a
    no-op there — pass ``--driver-memory 8g`` (and executor sizing) on the
    spark-submit line instead; this config only governs the plain
    ``python3 jobs/...`` launch path.

    When this call launches the JVM, the JVM maps its classes from a
    class-data-sharing archive (:class:`_ClassArchive`). The first launch
    per Java/Spark install creates the archive: that launch is slower,
    and its JVM takes about 20 s more to exit while it writes the file,
    so an exit hook waits for it before publishing. With a live
    JVM (a second session in one process, or ``spark-submit``) nothing
    changes: no flag, no environment variable, no file. Under
    ``spark-submit`` pass ``--driver-java-options
    "-XX:SharedArchiveFile=<file> -Xlog:cds=off"`` with an empty
    ``SPARK_CONF_DIR``, next to ``--driver-memory 8g``; make the archive
    once with ``-XX:ArchiveClassesAtExit=<file>``."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    mem = memory or os.environ.get('SPARK_GRAFT_MEMORY', '8g')
    archive = (_ClassArchive(mem) if SparkContext._gateway is None
               and 'PYSPARK_GATEWAY_PORT' not in os.environ else None)
    builder = (
        SparkSession.builder
        .master(f'local[{cpus}]')
        .appName(app)
        .config('spark.driver.memory', mem)
        .config('spark.sql.shuffle.partitions', str(max(cpus * 2, 8)))
        .config('spark.sql.adaptive.enabled', 'true')
        .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
        .config('spark.sql.execution.arrow.maxRecordsPerBatch', '16384')
        .config('spark.sql.execution.arrow.maxBytesPerBatch',
                str(64 * 1024 * 1024))
        .config('spark.ui.enabled', 'false')
        # past 32 directories Spark lists a file tree with a job of one
        # task per directory (1.1 s for the 64 bucket directories the
        # resume read-back lists); in a local session those tasks run in
        # this JVM, which lists a local tree by itself in milliseconds
        .config('spark.sql.sources.parallelPartitionDiscovery.threshold',
                str(2 ** 31 - 1)))
    if archive is None or archive.options is None:
        return builder.getOrCreate()
    with archive.launch_env():
        spark = builder.config('spark.driver.extraJavaOptions',
                               archive.options).getOrCreate()
    if archive.dump is not None:
        atexit.register(archive.publish_at_exit, SparkContext._gateway)
    return spark


def main(argv=None) -> int:
    repo = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    if repo not in sys.path:
        sys.path.insert(0, repo)

    ap = argparse.ArgumentParser()
    ap.add_argument('--input', default=None,
                    help='iceberg table or parquet path; omit to synthesize')
    ap.add_argument('--rows', type=int, default=2000,
                    help='rows to synthesize when --input is omitted')
    ap.add_argument('--seed', type=int, default=42)
    ap.add_argument('--output', default=None)
    ap.add_argument('--manifest', default=None)
    ap.add_argument('--buckets', type=int, default=64)
    ap.add_argument('--max-buckets', type=int, default=None)
    ap.add_argument('--cpus', type=int, default=int(os.environ.get(
        'SPARK_GRAFT_CPUS', '8')))
    ap.add_argument('--min-block-chars', type=int, default=None,
                    help='heuristics: minimum kept block size')
    ap.add_argument('--max-link-density', type=float, default=None,
                    help='heuristics: maximum link-char ratio per block')
    args = ap.parse_args(argv)

    from pyxml_spark.pipeline import run_with_resume, write_transcripts
    from pyxml_spark.pipeline.heuristics import ExtractConfig

    config = ExtractConfig()
    if args.min_block_chars is not None:
        config = config._replace(min_block_chars=args.min_block_chars)
    if args.max_link_density is not None:
        config = config._replace(max_link_density=args.max_link_density)

    spark = build_session(args.cpus)
    try:
        workdir = None
        input_ref = args.input
        if input_ref is None:
            workdir = tempfile.mkdtemp(prefix='pyxml_spark_')
            input_ref = os.path.join(workdir, 'transcripts.parquet')
            write_transcripts(spark, input_ref, args.rows, args.seed)
        output = args.output or os.path.join(
            workdir or tempfile.mkdtemp(prefix='pyxml_spark_'), 'out.parquet')
        manifest = args.manifest or output + '.manifest'

        t0 = time.time()
        metrics = run_with_resume(
            spark, input_ref, output, manifest,
            n_buckets=args.buckets, max_buckets=args.max_buckets,
            config=config)
        metrics['wall_seconds'] = round(time.time() - t0, 3)
        metrics['throughput_rows_per_s'] = round(
            metrics['rows_this_run'] / max(metrics['wall_seconds'], 1e-9), 1)
        print(json.dumps(metrics))
        return 0
    finally:
        spark.stop()


if __name__ == '__main__':
    raise SystemExit(main())
