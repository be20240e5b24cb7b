"""The derived-artifact store: every table the engine writes once per
corpus and then scans many times (mutant corpus, shingle streams, pair
tables, the merged order log, the co-purchase graph, index models,
stream sources, the media fixture) lives under ONE root and follows
one discipline.

- **Key.** An artifact declares the fixture tables it is built from.
  Its directory is ``<sf_dir with "/" -> "_">-<digest>/<name>``, the
  digest folding in every declared input's leaf-file-aware
  fingerprint (``registry.data_fingerprint``), so rewriting ANY input
  points every reader at a fresh build. Delete the root to clear it.
- **Publish.** A build writes into a temp dir inside the same corpus
  entry and one ``rename`` publishes it, so a crashed or multi-write
  build is never visible half-done; a build that loses the rename to a
  concurrent writer drops its copy and serves the winner's.
- **Read.** One session-scoped memo per (corpus, name), versioned by
  the digest and the published directory's identity: a regenerated
  input or a rebuilt directory evicts the old scan, and a repeated
  read returns the SAME DataFrame object (a DataFrame is an immutable
  logical plan, so sharing it within a session is safe).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from pathlib import Path

from de_project_sprint_etl_spark.functions.caching import session_scoped_value
from de_project_sprint_etl_spark.plans.registry import data_fingerprint

ROOT = Path(__file__).resolve().parents[1] / ".cache" / "derived"

_MARKER = "_SUCCESS"


def input_digest(sf_dir: str, inputs: tuple[str, ...]) -> str:
    """Digest of the tables ``inputs`` (``<sf_dir>/<table>.parquet``):
    changes whenever any of them is rewritten."""
    digest = hashlib.sha256()
    for table in sorted(inputs):
        fp = data_fingerprint(os.path.join(sf_dir, f"{table}.parquet"))
        digest.update(repr((table, fp)).encode())
    return digest.hexdigest()[:16]


def location(sf_dir: str, name: str, inputs: tuple[str, ...]) -> Path:
    """Directory of artifact ``name`` built from the tables ``inputs``
    of the corpus at ``sf_dir``."""
    corpus = sf_dir.strip("/").replace("/", "_")
    return ROOT / f"{corpus}-{input_digest(sf_dir, inputs)}" / name


def publish(final: Path, write) -> Path:
    """Build ``final`` once, atomically: ``write(tmp)`` creates and
    fills a temp dir beside it, then one rename publishes it. The
    marker keeps every published directory non-empty, so the rename of
    a losing concurrent writer fails instead of replacing the winner."""
    final = Path(final)
    if (final / _MARKER).exists():
        return final
    final.parent.mkdir(parents=True, exist_ok=True)
    tmp = final.parent / f".{final.name}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        write(tmp)
        (tmp / _MARKER).touch()
        try:
            os.rename(tmp, final)
        except OSError:
            if not (final / _MARKER).exists():
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def build(sf_dir: str, name: str, inputs: tuple[str, ...], write) -> Path:
    """Publish artifact ``name`` if absent; returns its directory."""
    return publish(location(sf_dir, name, inputs), write)


def memo(spark, sf_dir: str, name: str, version: tuple, load):
    """The one read memo: ``load()`` once per (session, corpus, name,
    version); a new version evicts the previous one."""
    return session_scoped_value("artifacts", spark, ((sf_dir, name), *version), load)


def read(spark, sf_dir: str, name: str, inputs: tuple[str, ...], write, load):
    """``load(path)`` of the published artifact, built by ``write`` if
    absent and memoized per session."""
    path = build(sf_dir, name, inputs, write)
    st = path.stat()
    version = (path.parent.name, st.st_ino, st.st_mtime_ns)
    return memo(spark, sf_dir, name, version, lambda: load(path))
