"""Acquisition path (S1/S2 driver side): fetch a quarter archive into a
landing directory and extract it — the engine-boundary replacement for
the reference's Selenium scrape + browser-download + unzip task
(reference: Airflow/dags/Sec_data_pipeline.py:96-200).

Deliberately driver-side, stdlib-only Python (urllib + zipfile): data
ACQUISITION is a control-plane concern — one archive per quarter, not a
distributed workload — so it stays out of Spark. The distributed twin
for archives already *in* storage is ``operators/multimodal.pack_assets``
over a ``binaryFile`` scan. Everything downstream (pattern-routed TSV
load, COPY semantics, quarter partitioning) is the engine's job and
lives in ``tsv.py`` / ``raw_layer.py``.

No Selenium: the reference scrapes a rendered page for ``.zip`` anchors;
given the index document (any URL readable by urllib, including
``file://`` in tests), a regex over ``href`` attributes finds the same
links without a browser.
"""

from __future__ import annotations

import os
import re
import urllib.parse
import urllib.request
import zipfile

_HREF_ZIP = re.compile(r"""href=["']([^"']+\.zip)["']""", re.IGNORECASE)

#: Network timeout for every urlopen — a stalled server must fail the
#: acquisition task, not hang it forever (ADVICE r2).
FETCH_TIMEOUT_SECONDS = 60.0


def _url_basename(url: str) -> str:
    return os.path.basename(urllib.parse.urlparse(url).path)


def find_zip_links(index_url: str, basename: str) -> list[str]:
    """The ``.zip`` hrefs in the document at ``index_url`` whose URL
    basename is EXACTLY ``basename`` (≙ the reference's ``required_zip``
    quarter filter), resolved to absolute URLs. The match is anchored:
    a substring test for ``2024q1.zip`` would also match
    ``pre2024q1.zip``."""
    with urllib.request.urlopen(  # noqa: S310 — caller-supplied source
        index_url, timeout=FETCH_TIMEOUT_SECONDS
    ) as resp:
        html = resp.read().decode("utf-8", errors="replace")
    links = [urllib.parse.urljoin(index_url, m) for m in _HREF_ZIP.findall(html)]
    return [u for u in links if _url_basename(u) == basename]


def fetch_to_landing(url: str, landing_dir: str) -> str:
    """Download ``url`` into ``landing_dir`` under the URL's file name;
    returns the local path. Idempotent per file name (re-fetch
    overwrites)."""
    os.makedirs(landing_dir, exist_ok=True)
    name = os.path.basename(urllib.parse.urlparse(url).path)
    if not name:
        raise ValueError(f"cannot derive a filename from {url!r}")
    dest = os.path.join(landing_dir, name)
    with urllib.request.urlopen(  # noqa: S310
        url, timeout=FETCH_TIMEOUT_SECONDS
    ) as resp, open(dest, "wb") as out:
        while chunk := resp.read(1 << 20):
            out.write(chunk)
    return dest


def extract_zip(zip_path: str, extract_dir: str) -> list[str]:
    """Extract ``zip_path`` into ``extract_dir`` (created if needed) and
    delete the archive, the reference's post-extract cleanup; returns
    extracted file paths. Rejects entries that would escape the target
    directory (zip-slip), leaving the archive in place."""
    os.makedirs(extract_dir, exist_ok=True)
    out: list[str] = []
    with zipfile.ZipFile(zip_path) as zf:
        root = os.path.realpath(extract_dir)
        for info in zf.infolist():
            dest = os.path.realpath(os.path.join(extract_dir, info.filename))
            if not (dest == root or dest.startswith(root + os.sep)):
                raise ValueError(f"zip entry escapes extract dir: {info.filename!r}")
        zf.extractall(extract_dir)
        out = [
            os.path.join(extract_dir, i.filename)
            for i in zf.infolist()
            if not i.is_dir()
        ]
    os.remove(zip_path)
    return out


def acquire_quarter(
    index_url: str, year_quarter: str, landing_dir: str
) -> list[str]:
    """End-to-end S1: find the quarter's archive on the index page,
    download it, extract the TSVs into ``landing_dir`` (ready for
    ``tsv.read_sec_quarter``), and drop the archive.

    The match is anchored on the URL basename — ``2024q1.zip`` must NOT
    also pull ``pre2024q1.zip`` / ``fy2014-2024q1.zip`` into the same
    landing dir (ADVICE r2)."""
    links = find_zip_links(index_url, basename=f"{year_quarter}.zip")
    if not links:
        raise FileNotFoundError(f"no archive for {year_quarter} at {index_url}")
    extracted: list[str] = []
    for url in links:
        zip_path = fetch_to_landing(url, landing_dir)
        extracted.extend(extract_zip(zip_path, landing_dir))
    return extracted
