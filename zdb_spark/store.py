"""One publish protocol for every persisted store.

``publish_version`` makes a document visible as ``v{N:012d}.json`` by
exclusive create (an fsync'd private tmp, then a hard link that fails if
another writer already published ``N``): a compare-and-swap with no lock
to leak.  ``Table`` commits its manifest heads with it; the other stores
publish a generation pointer ``<store>/_gen/v{N}.json`` =
``{"data_dir": name, "folded": [...]}`` naming an immutable directory,
which a reader resolves once.  ``publish_batch`` adds a staged batch to
the current generation, first publish wins; ``flip_generation`` makes a
compactor's or grower's private directory the next generation, and the
loser of the CAS deletes it and raises ``OSError``.  Appends and flips
to one store are single-writer by caller contract.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

GEN_DIR = "_gen"


def publish_version(d: str, version: int, doc: dict) -> bool:
    """Publish ``doc`` as ``d/v{version}.json`` iff no writer has yet.
    A crash between write and link leaves only a ``.tmp`` orphan."""
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".v{version:012d}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(doc, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, os.path.join(d, f"v{version:012d}.json"))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def latest_version(d: str) -> int:
    """Newest version published in ``d``; -1 when there is none."""
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return -1
    return max((int(f[1:-5]) for f in names
                if f.startswith("v") and f.endswith(".json")), default=-1)


def read_version(d: str, version: int) -> dict:
    with open(os.path.join(d, f"v{version:012d}.json")) as f:
        return json.load(f)


def resolve_generation(path: str, legacy: str) -> tuple[int, str, dict]:
    """(N, data directory, pointer doc) of the store's current generation.

    With no pointer published, a store resolves as it did before
    pointers existed: the generation its ``CURRENT`` file names (data
    in ``gen=<N>``), else generation 0 in ``legacy``."""
    d = os.path.join(path, GEN_DIR)
    n = latest_version(d)
    if n >= 0:
        doc = read_version(d, n)
    else:
        try:
            with open(os.path.join(path, "CURRENT")) as f:
                n = int(f.read())
            doc = {"data_dir": f"gen={n}"}
        except FileNotFoundError:
            n, doc = 0, {"data_dir": legacy}
    return n, os.path.normpath(os.path.join(path, doc["data_dir"])), doc


def publish_batch(path: str, legacy: str, names: list[str], write) -> bool:
    """Publish one batch into the current generation, exactly once.

    ``write(staging)`` writes each of ``names`` (paths relative to the
    generation directory) under a private staging directory, which
    readers never see; each is then renamed into the generation in
    order.  The LAST name is the batch's commit marker: a batch whose
    marker exists, or that the generation folded, is refused (False),
    and an earlier part left by a crashed publish is replaced."""
    _, gdir, doc = resolve_generation(path, legacy)
    marker = names[-1]
    if marker in doc.get("folded", ()) or os.path.exists(
            os.path.join(gdir, marker)):
        return False
    staging = os.path.join(path, "_staging", uuid.uuid4().hex)
    try:
        write(staging)
        for name in names:
            dest = os.path.join(gdir, name)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            if name != marker:
                shutil.rmtree(dest, ignore_errors=True)
            try:
                os.rename(os.path.join(staging, name), dest)
            except OSError:
                if os.path.exists(os.path.join(gdir, marker)):
                    return False    # a concurrent publish of it won
                raise
        return True
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def new_generation_dir(path: str, gen: int) -> str:
    """A fresh directory for generation ``gen``, private to its writer:
    racing writers never write into each other's output."""
    return os.path.join(path, f"gen={gen}.{uuid.uuid4().hex[:8]}")


def flip_generation(path: str, gen: int, gen_dir: str,
                    folded=()) -> None:
    """Make ``gen_dir`` generation ``gen``.  ``folded`` names the batches
    it absorbed, which ``publish_batch`` then refuses."""
    doc = {"data_dir": os.path.basename(gen_dir)}
    if folded:
        doc["folded"] = sorted(folded)
    if not publish_version(os.path.join(path, GEN_DIR), gen, doc):
        shutil.rmtree(gen_dir, ignore_errors=True)
        raise OSError(f"generation {gen} of {path} was published by a "
                      "concurrent writer; this run's output was discarded")


def _generation_number(name: str) -> int | None:
    """Generation of a data directory name: ``gen=<N>[.<nonce>]``, or an
    ANN index's ``data`` (0) / ``data-g<N>``."""
    for prefix in ("gen=", "data-g"):
        if name.startswith(prefix):
            n = name[len(prefix):].split(".", 1)[0]
            return int(n) if n.isdigit() else None
    return 0 if name == "data" else None


def vacuum_generations(path: str, legacy: str, keep: int = 1) -> int:
    """Delete staging leftovers, and every generation directory and
    pointer older than the newest ``keep`` generations, published or
    not.  Readers that resolved a deleted generation fail, so keep more
    than one while reads can be in flight.  Returns the number of
    directories removed."""
    gen, _, _ = resolve_generation(path, legacy)
    floor = gen - keep + 1
    removed = 0
    for name in os.listdir(path):
        n = _generation_number(name)
        if n is not None and n < floor:
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)
            removed += 1
    staging = os.path.join(path, "_staging")
    if os.path.isdir(staging):
        removed += len(os.listdir(staging))
        shutil.rmtree(staging, ignore_errors=True)
    d = os.path.join(path, GEN_DIR)
    if os.path.isdir(d):
        for f in os.listdir(d):
            if f.startswith("v") and f.endswith(".json") \
                    and int(f[1:-5]) < floor:
                os.unlink(os.path.join(d, f))
    return removed
