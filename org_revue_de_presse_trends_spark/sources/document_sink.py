"""Keyed document-tree sink — the engine's replacement for the
reference's Firebase RTDB fan-out (trends.go:656-745).

Reference behaviors reproduced:

- S4 idempotency: each run replaces ``highlights/{list}/{date}/{type}``
  wholesale (the reference deletes, then writes, trends.go:656-662), so
  a rerun leaves no stale leaf.  Types the run does not produce are
  left alone, so a ``--distinct-sources-only`` run keeps ``status``.
- S5 fan-out: the reference bounds ≤100 concurrent leaf writes
  (sizedwaitgroup, trends.go:664-679).  Here the whole day is one
  commit per run, so there is nothing to fan out: a failed run leaves
  the previous day as it was instead of empty or half-written.
- skip-on-invalid-JSON: records whose ``json`` field fails validation
  are skipped with a counter, not failed (trends.go:690-694).

Shape: the day's result is collected once on the driver (the reference
also loads the day into memory, trends.go:542-684), grouped by type and
handed to the store in one ``replace_children`` call — one RTDB
multi-path ``PATCH``, or one staged-directory swap on the filesystem.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row

# The 12-field leaf record (trends.go:716-729).
RECORD_FIELDS = (
    "id", "twitterId", "username", "text", "url", "json",
    "publishedAt", "checkedAt", "isRetweet", "twitter_id",
    "totalRetweets", "totalFavorites",
)


class DocumentStore:
    """Minimal client protocol: a keyed document tree."""

    def replace_children(self, path: str,
                         children: dict[str, dict[str, dict]]) -> int:
        """Replace each named child of ``path`` by its ``{key: record}``
        map (an empty map removes the child) in one atomic commit,
        leaving other children alone.  Returns the retried requests."""
        raise NotImplementedError


class LocalFSDocumentStore(DocumentStore):
    """Filesystem-backed store: one JSON file per leaf, directories for
    tree levels.  Serves tests and local runs; the Firebase REST client
    below is the production analogue.

    Every child is first staged under ``{root}/.staging-<uuid>/``, then
    swapped in by rename (live → trash, staged → live), so a run that
    fails while staging leaves the live tree untouched.  The swap is
    two renames per child, so a concurrent reader can briefly miss one."""

    def __init__(self, root: str):
        self.root = root

    def _p(self, path: str) -> str:
        return os.path.join(self.root, *path.strip("/").split("/"))

    def _write_leaf(self, target: str, record: dict) -> None:
        with open(target, "w") as f:
            json.dump(record, f, ensure_ascii=False, sort_keys=True)

    def replace_children(self, path, children):
        staging = os.path.join(self.root, f".staging-{uuid.uuid4().hex}")
        new, old = os.path.join(staging, "new"), os.path.join(staging, "old")
        try:
            for name, records in children.items():
                os.makedirs(os.path.join(new, name))
                for key, rec in records.items():
                    self._write_leaf(
                        os.path.join(new, name, f"{key}.json"), rec)
            os.makedirs(self._p(path), exist_ok=True)
            os.makedirs(old)
            for name, records in children.items():
                live = os.path.join(self._p(path), name)
                if os.path.isdir(live):
                    os.rename(live, os.path.join(old, name))
                if records:
                    os.rename(os.path.join(new, name), live)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return 0


def _transient(exc: Exception) -> bool:
    """HTTP 5xx and 429, connection failures and timeouts are worth a
    retry; any other 4xx (auth, missing path, bad body) is not."""
    from urllib.error import HTTPError, URLError

    if isinstance(exc, HTTPError):
        return exc.code == 429 or exc.code >= 500
    return isinstance(exc, (URLError, ConnectionError, TimeoutError))


class FirebaseRESTStore(DocumentStore):
    """Firebase RTDB REST client — the production sink (reference uses
    the firego client, trends.go:686-745); urllib-only, no extra deps.

    ``replace_children`` is one multi-path ``PATCH {base}/{path}.json``
    mapping each child to its whole record map: RTDB overwrites every
    named child wholesale, atomically.  Transient failures are retried,
    ``ATTEMPTS`` tries in all, with exponential backoff.

    Auth, in precedence order:

    - ``token_provider`` — a zero-arg callable returning a fresh OAuth2
      access token (e.g. ``ServiceAccountTokenProvider.token`` from
      ``sources.gauth``, the reference's service-account flow,
      trends.go:225-239); sent as ``?access_token=`` per the Firebase
      REST docs, re-evaluated per request so refresh just works.
    - ``auth_token`` — a static legacy database secret (``?auth=``).
    """

    ATTEMPTS, BASE_DELAY = 3, 0.1

    def __init__(self, base_url: str, auth_token: str | None = None,
                 timeout: float = 10.0,
                 token_provider: "Callable[[], str] | None" = None):
        self.base_url = base_url.rstrip("/")
        self.auth_token = auth_token
        self.token_provider = token_provider
        self.timeout = timeout

    def _url(self, path: str) -> str:
        from urllib.parse import quote

        url = f"{self.base_url}/{path.strip('/')}.json"
        # tokens may carry '+', '/', '=' — unencoded they decode to
        # different bytes server-side and auth fails intermittently
        if self.token_provider is not None:
            url += f"?access_token={quote(self.token_provider(), safe='')}"
        elif self.auth_token:
            url += f"?auth={quote(self.auth_token, safe='')}"
        return url

    def replace_children(self, path, children):
        import time
        import urllib.request

        # JSON null deletes a child in RTDB; an empty map stores nothing
        body = {name: recs or None for name, recs in children.items()}
        data = json.dumps(body).encode()
        for i in range(self.ATTEMPTS):
            req = urllib.request.Request(
                self._url(path), data=data, method="PATCH",
                headers={"Content-Type": "application/json"},
            )
            try:
                with urllib.request.urlopen(req, timeout=self.timeout) as r:
                    r.read()
                return i
            except Exception as exc:  # noqa: BLE001 — classified below
                if i == self.ATTEMPTS - 1 or not _transient(exc):
                    raise
                time.sleep(self.BASE_DELAY * (2**i))


@dataclass
class SinkStats:
    written: int = 0
    skipped_invalid_json: int = 0
    retried: int = 0


def _record_of(row: Row) -> dict:
    rec = row.asDict()
    # quirk parity (trends.go:722,726): both twitterId and twitter_id
    # carry the status id string
    rec.setdefault("twitter_id", rec.get("twitterId"))
    return {k: rec.get(k) for k in RECORD_FIELDS}


def _valid_json(value) -> bool:
    if value is None:
        return False
    try:
        json.loads(value)
        return True
    except (ValueError, TypeError):
        return False


def write_highlights(
    df: DataFrame,
    store: DocumentStore,
    list_id: str,
    since_date: str,
) -> SinkStats:
    """Write a (possibly multi-variant) highlights DataFrame to the
    document store under ``highlights/{list}/{date}/{type}/{id}``.

    ``df`` must carry the 12-field record plus ``statusType``.  Every
    type present in ``df`` is replaced; a type whose every row has
    invalid JSON ends with no subtree.
    """
    stats = SinkStats()
    children: dict[str, dict[str, dict]] = {}
    for row in df.collect():
        recs = children.setdefault(row["statusType"], {})
        rec = _record_of(row)
        if not _valid_json(rec["json"]):
            # trends.go:690-694 — skip, don't fail
            stats.skipped_invalid_json += 1
            continue
        recs[rec["twitterId"]] = rec
    if not children:
        return stats
    stats.retried = store.replace_children(
        f"highlights/{list_id}/{since_date}", children)
    stats.written = sum(map(len, children.values()))
    return stats
