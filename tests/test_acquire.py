"""S1 acquisition path: index-scan → fetch → extract → readable by the
TSV loader — exercised offline via file:// URLs over a synthetic
quarter archive."""

from __future__ import annotations

import os
import zipfile

import pytest

from sec_financial_data_pipeline_using_snowflake_dbt_spark.sources.acquire import (
    acquire_quarter,
    extract_zip,
    fetch_to_landing,
    find_zip_links,
)
from sec_financial_data_pipeline_using_snowflake_dbt_spark.sources.tsv import (
    read_sec_quarter,
)

from .sec_fixtures import generate_sec_quarter


@pytest.fixture(scope="module")
def site(tmp_path_factory):
    """A fake download site: an index page linking a quarter archive."""
    d = tmp_path_factory.mktemp("site")
    raw = d / "raw"
    raw.mkdir()
    generate_sec_quarter(str(raw))
    zip_path = d / "2024q1.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for name in ("sub", "tag", "num", "pre"):
            zf.write(raw / f"{name}.txt", arcname=f"{name}.txt")
    (d / "index.html").write_text(
        "<html><body>"
        '<a href="2023q4.zip">2023q4</a> '
        f'<a href="{zip_path.name}">2024q1</a> '
        # decoys whose names merely CONTAIN the quarter: the anchored
        # basename match must skip them (there is no file behind them,
        # so accidentally matching would fail the download)
        '<a href="pre2024q1.zip">pre</a> '
        '<a href="fy2014-2024q1.zip">fy</a> '
        '<a href="notes.txt">notes</a>'
        "</body></html>"
    )
    return d


def test_find_zip_links_resolves_and_filters(site):
    index = f"file://{site}/index.html"
    # the anchored basename match skips the decoys that merely contain
    # the quarter (ADVICE r2) and resolves the href against the index
    assert find_zip_links(index, "2024q1.zip") == [f"file://{site}/2024q1.zip"]
    assert find_zip_links(index, "2023q4.zip") == [f"file://{site}/2023q4.zip"]
    assert find_zip_links(index, "notes.txt") == []


def test_fetch_and_extract(site, tmp_path_factory):
    landing = str(tmp_path_factory.mktemp("landing"))
    local = fetch_to_landing(f"file://{site}/2024q1.zip", landing)
    assert os.path.exists(local)
    files = extract_zip(local, landing)
    assert sorted(os.path.basename(f) for f in files) == [
        "num.txt", "pre.txt", "sub.txt", "tag.txt",
    ]
    assert not os.path.exists(local)  # archive cleaned up


def test_extract_zip_rejects_escape(tmp_path_factory):
    d = tmp_path_factory.mktemp("evil")
    zp = d / "evil.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("../outside.txt", "x")
    with pytest.raises(ValueError, match="escapes"):
        extract_zip(str(zp), str(d / "out"))
    assert zp.exists()  # a rejected archive is not deleted


def test_acquire_quarter_feeds_the_loader(spark, site, tmp_path_factory):
    landing = str(tmp_path_factory.mktemp("landing2"))
    files = acquire_quarter(f"file://{site}/index.html", "2024q1", landing)
    assert len(files) == 4
    raw = read_sec_quarter(spark, landing)
    assert raw["sub"].count() > 0
    assert raw["num"].count() > 0
