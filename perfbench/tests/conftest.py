import os
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]


@pytest.fixture(scope="session")
def small_data(tmp_path_factory) -> str:
    """The benchmark's generator at sf0.01: every table, small."""
    import gendata

    out = str(tmp_path_factory.mktemp("perfbench-data") / "sf0.01")
    gendata.write_tables(out, sf=0.01, seed=42)
    return out


@pytest.fixture(scope="session")
def bench_session(tmp_path_factory):
    """A session started and warmed up exactly as a benchmark run does,
    with temp files confined to a test directory."""
    import run

    tmp = str(tmp_path_factory.mktemp("perfbench-run"))
    saved_env, saved_tmp = dict(os.environ), tempfile.tempdir
    try:
        run.confine_temp_files(tmp)
        spark, entry = run.start_session(tmp)
        try:
            yield spark, entry
        finally:
            run.stop_session(spark)
    finally:
        os.environ.clear()
        os.environ.update(saved_env)
        tempfile.tempdir = saved_tmp
