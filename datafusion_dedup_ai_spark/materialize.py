"""Everything the package materializes under ``.materialized/``.

One module owns the layout. Every per-sf artifact — the parquet fixtures
the hash-gated oracles read, the persisted indexes and the streaming replay
work dirs — lives at ``artifact_path(sf_dir, name)``, i.e.
``.materialized/<sf_cache_key(sf_dir)>/<name>``, and is built at most once
per process through ``build_once``.

A ``Fixture`` is a parquet artifact that holds the one non-SQL step of a
query family (xxhash64, the hyperplane matmul, k-means cells, the media
payload and entropy, the cluster pipeline): both the Spark query
(``Fixture.read``) and its DuckDB oracle (``Fixture.glob``) read the same
files, so the oracle replays everything else in SQL and the check is
hash-gated. ``CLUSTERS`` is the cluster-report snapshot behind the O-pack
report queries (O2 summary, O4 mapping, O5 review, O6 stats): C1 cluster
formation is not ANSI-SQL-expressible, and its own exactness is pinned by
the golden-fixture and equivalence tests.

The oracle SQL strings embed the fixture path, which depends on the scale
factor being compared. The driver always compares at sf0.01; local pytest
uses SPARK_GRAFT_TEST_SF_DIR (conftest pins it). ``oracle_sf_dir`` resolves
identically for both, and the registry resolves callable oracles at
``oracle_sql()`` call time so the path is computed lazily.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


_code_fp_cache: str | None = None


def code_fingerprint() -> str:
    """Short digest of every .py source in this package. Baked into the
    fixture cache key so a fixture written by an OLDER code version (e.g.
    pre-adaptive-LSH-width) resolves to a different path and is rebuilt
    rather than silently trusted — the standalone-consumer case where
    ``ensure_fixture_session`` returns None on an existing path (round-6
    advice). Coarse by design: any package edit invalidates all fixtures,
    which only costs a deterministic rebuild."""
    global _code_fp_cache
    if _code_fp_cache is None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        h = hashlib.md5()
        for root, dirs, files in sorted(os.walk(pkg_dir)):
            dirs.sort()
            for fname in sorted(files):
                if fname.endswith(".py"):
                    with open(os.path.join(root, fname), "rb") as f:
                        h.update(fname.encode())
                        h.update(f.read())
        _code_fp_cache = h.hexdigest()[:8]
    return _code_fp_cache


def sf_cache_key(sf_dir: str) -> str:
    """Directory key for per-sf materialized fixtures: basename plus a short
    hash of the ABSOLUTE path (so distinct sf dirs sharing a basename — e.g.
    two checkouts' testdata/sf0.01 — never collide in `.materialized/`) plus
    the package code fingerprint (so fixtures from an earlier code version
    are never trusted by a standalone consumer). Pure path computation — no
    filesystem side effects: stale-version reaping runs after a build, see
    ``build_once``."""
    norm = os.path.abspath(os.path.normpath(sf_dir))
    prefix = (
        os.path.basename(norm) + "-" + hashlib.md5(norm.encode()).hexdigest()[:8]
    )
    return prefix + "-" + code_fingerprint()


def _reap_stale_versions(key_dir: str) -> None:
    """Delete the trees of the same sf under OLD code fingerprints — the
    versioned key otherwise accumulates one tree per code edit across long
    build sessions. Runs only AFTER a successful build under the
    current-version key (``build_once``): a pure path getter must not
    destroy siblings a concurrently-running older-version process may be
    reading, and an older process that does get raced rebuilds its
    deterministic artifact rather than trusting a stale tree. No-op for a
    directory outside the versioned layout."""
    import shutil

    base, key = os.path.split(os.path.abspath(key_dir))
    suffix = "-" + code_fingerprint()
    if (
        os.path.basename(base) != ".materialized"
        or not key.endswith(suffix)
        or not os.path.isdir(base)
    ):
        return
    prefix = key[: -len(suffix)]
    for entry in os.listdir(base):
        # entry == prefix is the pre-versioning layout
        if (entry == prefix or entry.startswith(prefix + "-")) and entry != key:
            shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
    # the MinHash index once lived at .materialized/<sf basename>/minhash_index;
    # the basename dir goes too once nothing else is left in it
    legacy = os.path.join(base, prefix.rsplit("-", 1)[0])
    shutil.rmtree(os.path.join(legacy, "minhash_index"), ignore_errors=True)
    if os.path.isdir(legacy) and not os.listdir(legacy):
        os.rmdir(legacy)


# The driver runs the side-by-side compare at sf0.01 with no env set; pytest
# sets SPARK_GRAFT_TEST_SF_DIR (tests/conftest.py) so both the Spark fixture
# and the oracle path resolver agree on the same scale factor.
_DRIVER_SF_DIR = "/root/testdata/sf0.01"


def oracle_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", _DRIVER_SF_DIR)


def artifact_path(sf_dir: str, name: str) -> str:
    """The one path rule for everything this package materializes per scale
    factor: ``.materialized/<sf_cache_key(sf_dir)>/<name>``."""
    return os.path.join(_REPO_ROOT, ".materialized", sf_cache_key(sf_dir), name)


# Artifact paths (and key dirs already reaped) built by THIS process. A path
# is rebuilt once per process even if a stale copy survives on disk from an
# earlier run or code version.
_built: set[str] = set()


def build_once(path: str, build: Callable[[str], object]) -> str:
    """Run ``build(path)`` the first time this process asks for ``path``,
    then reap the same sf's trees under old code fingerprints (once per key
    dir). Returns ``path``."""
    if path not in _built:
        build(path)
        _built.add(path)
        key_dir = os.path.dirname(path)
        if key_dir not in _built:
            _reap_stale_versions(key_dir)
            _built.add(key_dir)
    return path


def forget(*names: str) -> None:
    """Make the next ``build_once`` of every artifact called one of
    ``names`` (at any sf) build it again."""
    _built.difference_update([p for p in _built if os.path.basename(p) in names])


def atomic_parquet_overwrite(df, path: str) -> None:
    """Overwrite a fixture parquet directory WITHOUT a visible
    empty/partial window. Spark's ``mode("overwrite")`` deletes the
    destination before writing, so a CONCURRENT process re-materializing
    the same deterministic fixture leaves any reader (a DuckDB oracle
    glob mid-scan) a seconds-wide window of missing files — observed as
    a spurious IO error in a parallel audit run. Write to a tmp sibling,
    swap via two renames, then reap the old tree. The swap narrows but
    does not eliminate the race: between the renames the path is briefly
    absent, so a concurrent DuckDB glob STARTING inside that (normally
    microsecond, unless the process is preempted between syscalls) window
    still errors — a reader already holding the old files open keeps
    reading them. Acceptable for deterministic-fixture re-materialization;
    if the spurious error ever recurs in parallel audit runs, add a brief
    retry in the oracle readers."""
    import shutil
    import uuid

    nonce = uuid.uuid4().hex[:8]
    tmp = f"{path}.tmp-{nonce}"
    df.write.mode("overwrite").parquet(tmp)
    old = f"{path}.old-{nonce}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def ensure_fixture_session(path: str):
    """Resolve the SparkSession to (re)materialize a resolution-time fixture
    with, covering all three callers of the oracle dict:

    - in-process driver / pytest: an ACTIVE session exists — return it (the
      fixture is re-materialized once per process, refreshing stale disk
      state from earlier runs);
    - standalone oracle run (e.g. a DuckDB-only comparator) with the
      fixture already on disk: return None — fixtures are deterministic per
      (sf, code version), so the files are trusted as-is;
    - standalone run with NO fixture on disk: the fixture genuinely requires
      Spark (xxhash64 / LSH codes / the cluster pipeline), so build a local
      session here and leave it active — subsequent fixture resolutions in
      the same process reuse it via getActiveSession, and it dies with the
      process.
    """
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        return spark
    if os.path.exists(path):
        return None
    from datafusion_dedup_ai_spark.session import build_session

    return build_session(app_name="fixture-materialize")


@dataclass(frozen=True)
class Fixture:
    """A parquet fixture: the frame that holds one non-SQL step, written to
    ``artifact_path(sf_dir, name + ".parquet")`` once per process and read
    by both the Spark query (``read``) and its DuckDB oracle (``glob``)."""

    name: str
    frame: Callable[[SparkSession, str], DataFrame]

    def path(self, sf_dir: str) -> str:
        return artifact_path(sf_dir, self.name + ".parquet")

    def materialize(self, spark: SparkSession, sf_dir: str) -> str:
        """Write the fixture once per process; returns its path."""
        return build_once(
            self.path(sf_dir),
            lambda path: atomic_parquet_overwrite(self.frame(spark, sf_dir), path),
        )

    def read(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.read.parquet(self.materialize(spark, sf_dir))

    def glob(self) -> str:
        """DuckDB-side reference to the fixture at the oracle sf (Spark
        writes a directory of part files; DuckDB globs them). Oracle SQL is
        resolved lazily (registry callables), so the fixture is
        (re)materialized right here: the oracle is valid whether the driver
        runs it before or after the Spark query, and a stale copy from an
        earlier process is refreshed before either side reads it. See
        ``ensure_fixture_session`` for the standalone cases."""
        sf_dir = oracle_sf_dir()
        path = self.path(sf_dir)
        spark = ensure_fixture_session(path)
        if spark is not None:
            self.materialize(spark, sf_dir)
        return os.path.join(path, "*.parquet")


def _cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_dedup_ai_spark.queries_dedup import q_dedup_clusters

    return q_dedup_clusters(spark, sf_dir)


# The full dedup-pipeline cluster report behind the O-pack oracles.
CLUSTERS = Fixture("clusters", _cluster_report)
