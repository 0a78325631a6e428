"""Driver-contract checks: the shape of queries()/oracle_sql(), plus
Spark-vs-DuckDB value parity at sf0.001 for the rows that call the curation
library (scripts/check_contract.py runs the same comparison over every row
at any scale)."""
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

#: the contract rows built from pipeline/curate.py
CURATION_ROWS = ('token_count', 'quality_score', 'lang_id',
                 'gopher_repetition', 'sequence_pack',
                 'conversation_assemble', 'curate_pipeline',
                 'bucketed_join', 'benchmark_overlap')


def test_queries_have_oracles():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert qs, 'queries() must not be empty'
    missing = set(oracles) - set(qs)
    assert not missing, f'oracles without queries: {missing}'
    # round 2: every query carries an oracle (the ANN paths gained SQL
    # twins — hyperplane literals / grid quantizer).  Round 4 adds exactly
    # one deliberate exception: ann_kmeans_topk is an iterative Lloyd's
    # refinement (driver-side loop over centroid updates) that SQL cannot
    # express; the driver records its weaker rows-only check, and the
    # oracle-checked grid/LSH variants remain the production ANN paths.
    rows_only_allowed = {'ann_kmeans_topk'}
    rows_only = set(qs) - set(oracles)
    assert rows_only <= rows_only_allowed, \
        f'rows-only queries (every operator must carry an oracle): ' \
        f'{rows_only - rows_only_allowed}'


def test_callables():
    for name, fn in entry.queries().items():
        assert callable(fn), name


def test_oracle_sql_is_select():
    for name, sql in entry.oracle_sql().items():
        head = sql.strip().split(None, 1)[0].upper()
        assert head in ('SELECT', 'WITH'), name


@pytest.fixture(scope='module')
def duck():
    from scripts.check_contract import duckdb_views
    con = duckdb_views(entry.DEFAULT_SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize('name', CURATION_ROWS)
def test_curation_row_matches_oracle(spark, duck, name):
    from scripts.check_contract import check_query
    status, report = check_query(spark, duck, entry.DEFAULT_SF_DIR, name)
    assert status == 'OK', report


def test_bucketed_join_calls_do_not_interfere(spark, duck):
    """each q_bucketed_join call writes its own tables and drops them once
    its frame is resolved: two frames built before either runs both match
    the oracle, and no ``bj_*`` table is left in the session catalog"""
    from scripts.check_contract import normalize
    first = entry.q_bucketed_join(spark, entry.DEFAULT_SF_DIR)
    second = entry.q_bucketed_join(spark, entry.DEFAULT_SF_DIR)
    assert [t.name for t in spark.catalog.listTables()
            if t.name.startswith('bj_')] == []
    rel = duck.sql(entry.oracle_sql()['bucketed_join'])
    want = normalize(list(rel.columns), [tuple(r) for r in rel.fetchall()])
    for df in (first, second):
        assert normalize(df.columns, [tuple(r) for r in df.collect()]) == want


def test_one_session_builder_and_one_cpu_probe():
    """the harness shares one definition of each: outside tests/, only
    jobs/extract.py builds a Spark session, and outside perfbench/ no
    source file defines the CPU probe's work or reads the core affinity"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = re.compile(r'^_PROBE_WORK\s*=|os\.sched_getaffinity\s*\(', re.M)
    builders, probes = [], []
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs
                         if not x.startswith('.') and x != '__pycache__')
        for f in sorted(files):
            if not f.endswith('.py'):
                continue
            rel = os.path.relpath(os.path.join(d, f), root)
            top = rel.split(os.sep)[0]
            with open(os.path.join(d, f), encoding='utf-8') as fh:
                text = fh.read()
            if top != 'tests' and 'SparkSession.builder' in text:
                builders.append(rel)
            if top != 'perfbench' and probe.search(text):
                probes.append(rel)
    assert builders == [os.path.join('pyxml_spark', 'jobs', 'extract.py')]
    assert probes == []


# ------------------------------------------- the launch's class-data archive

@pytest.fixture
def fake_install(tmp_path, monkeypatch):
    """a Spark home with two jars and a templates-only conf directory, and
    a fresh cache directory; the java binary is the real one"""
    home = tmp_path / 'spark'
    (home / 'jars').mkdir(parents=True)
    (home / 'conf').mkdir()
    (home / 'conf' / 'spark-defaults.conf.template').write_text('# x\n')
    for name in ('a.jar', 'b.jar'):
        (home / 'jars' / name).write_bytes(b'jar')
    monkeypatch.setenv('SPARK_HOME', str(home))
    monkeypatch.setenv('XDG_CACHE_HOME', str(tmp_path / 'cache'))
    monkeypatch.delenv('SPARK_CONF_DIR', raising=False)
    return home


def class_archive(memory='8g'):
    pytest.importorskip('pyspark')
    from pyxml_spark.jobs.extract import _ClassArchive
    return _ClassArchive(memory)


def test_class_archive_key_follows_the_install(fake_install, tmp_path,
                                               monkeypatch):
    """a jar's size or mtime, the conf directory and the heap's compressed
    oops each change the archive's key"""
    base = class_archive().final
    assert base == class_archive().final
    jar = fake_install / 'jars' / 'a.jar'
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10 ** 9))
    touched = class_archive().final
    jar.write_bytes(b'jar, rebuilt')
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10 ** 9))
    resized = class_archive().final
    other_conf = tmp_path / 'other-conf'
    other_conf.mkdir()
    monkeypatch.setenv('SPARK_CONF_DIR', str(other_conf))
    moved = class_archive().final
    big_heap = class_archive('40g').final
    assert len({base, touched, resized, moved, big_heap}) == 5


def test_class_archive_miss_dumps_to_a_per_process_file(fake_install):
    archive = class_archive()
    assert archive.dump == f'{archive.final}.{os.getpid()}.tmp'
    assert f'-XX:ArchiveClassesAtExit={archive.dump} ' in archive.options
    assert 'SharedArchiveFile' not in archive.options
    assert '-Xlog:cds=off -Xlog:cds+dynamic=off' in archive.options
    with archive.launch_env():
        assert os.environ['SPARK_CONF_DIR'] == archive.conf_dir
        assert os.listdir(archive.conf_dir) == []
    assert 'SPARK_CONF_DIR' not in os.environ


def test_class_archive_off_with_a_real_conf_file(fake_install):
    """a non-template file in the conf directory would void the archive,
    so the launch goes as without one and SPARK_CONF_DIR is left alone"""
    (fake_install / 'conf' / 'spark-defaults.conf').write_text('a b\n')
    archive = class_archive()
    assert archive.options is None
    with archive.launch_env():
        assert 'SPARK_CONF_DIR' not in os.environ
    assert 'SPARK_CONF_DIR' not in os.environ


def test_build_session_with_a_live_session_changes_nothing(
        spark, tmp_path, monkeypatch):
    """the shared session's JVM exists, so building a session sets no
    option, no environment variable and no cache file"""
    from conftest import restored_conf
    from pyxml_spark.jobs.extract import build_session
    monkeypatch.setenv('XDG_CACHE_HOME', str(tmp_path / 'cache'))
    env = dict(os.environ)
    with restored_conf(spark):
        assert build_session(4) is spark
        assert 'Archive' not in spark.conf.get(
            'spark.driver.extraJavaOptions', '')
    assert dict(os.environ) == env
    assert not (tmp_path / 'cache').exists()


def test_class_archive_failed_jvm_publishes_nothing(fake_install):
    """a dump of a JVM that exited non-zero is removed, never published"""
    import subprocess
    archive = class_archive()
    with open(archive.dump, 'wb') as f:
        f.write(b'truncated')
    archive.publish(subprocess.Popen([sys.executable, '-c',
                                      'raise SystemExit(3)']))
    assert not os.path.exists(archive.final)
    assert not os.path.exists(archive.dump)


def test_class_archive_maps_spark_classes(tmp_path, monkeypatch):
    """end to end on the real install: a JVM dumps an archive at exit,
    publish renames it into place, and the next JVM with the use-options
    loads SparkSubmit from the archive, not from its jar"""
    import shutil
    import subprocess
    java_home = os.environ.get('JAVA_HOME')
    java = (os.path.join(java_home, 'bin', 'java') if java_home
            else shutil.which('java'))
    if not java or not os.path.exists(java):
        pytest.skip('no java')
    from pyspark.find_spark_home import _find_spark_home
    monkeypatch.setenv('XDG_CACHE_HOME', str(tmp_path / 'cache'))
    creating = class_archive()
    assert creating.dump is not None
    cp = os.pathsep.join([creating.conf_dir,
                          os.path.join(_find_spark_home(), 'jars', '*')])
    main = ['-Xmx1g', '-cp', cp, 'org.apache.spark.deploy.SparkSubmit',
            '--version']
    proc = subprocess.Popen([java, *creating.options.split(), *main],
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    out, _ = proc.communicate(timeout=120)
    assert out == b''  # the dump prints nothing to stdout
    creating.publish(proc)
    assert os.path.isfile(creating.final)
    assert not os.path.exists(creating.dump)

    mapping = class_archive()
    assert mapping.dump is None and mapping.final == creating.final
    assert f'-XX:SharedArchiveFile={creating.final} ' in mapping.options
    log = tmp_path / 'load.log'
    subprocess.run([java, *mapping.options.split(),
                    f'-Xlog:class+load:file={log}', *main],
                   capture_output=True, check=True, timeout=120)
    loads = [ln for ln in log.read_text().splitlines()
             if ' org.apache.spark.deploy.SparkSubmit source:' in ln]
    assert loads and loads[0].endswith('source: shared objects file (top)')
