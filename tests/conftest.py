import shutil
import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from patapsco_spark.session import get_spark

    s = get_spark(app="patapsco-spark-tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def index_copy(tmp_path_factory):
    """``index_copy(key, dest, build)`` -> ``dest``: ``build(path)`` runs
    once per distinct ``key`` in the session, into a template directory,
    and each call gets its own copy of that template at ``dest``.

    A small test index costs a few dozen Spark jobs to build and nothing
    to copy. An index holds no absolute path, so the copy reads exactly
    like a fresh build and the test may append to, delete from or compact
    it without touching the template."""
    templates = {}

    def copy(key, dest, build):
        src = templates.get(key)
        if src is None:
            src = str(tmp_path_factory.mktemp("index_template") / "idx")
            build(src)
            templates[key] = src
        shutil.copytree(src, str(dest))
        return str(dest)

    return copy


@pytest.fixture()
def tmp_index():
    d = tempfile.mkdtemp(prefix="psidx_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
