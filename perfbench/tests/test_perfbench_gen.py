"""The benchmark's input generator is a pure function of (workload, seed)."""

import os
import statistics

import pytest

from perfbench import gen


def _files(path):
    return {f: open(os.path.join(path, f), "rb").read()
            for f in sorted(os.listdir(path))}


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_parquet_bytes_repeat_per_seed(tmp_path, workload):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.write_pages(str(a), gen.make_crawl(workload, 7))
    gen.write_pages(str(b), gen.make_crawl(workload, 7))
    gen.write_pages(str(c), gen.make_crawl(workload, 8))
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert len([f for f in fa if f.endswith(".parquet")]) == gen.N_FILES
    assert fa == fb
    assert fa != fc


def test_shape():
    pages = gen.make_crawl("crawl_delta", 3)
    assert len(pages) == gen.WORKLOADS["crawl_delta"][0]
    assert [p["doc_id"] for p in pages] == list(range(len(pages)))
    assert pages[0]["text"] == "" and pages[1]["text"] == ".. -- ;; !!"
    assert "." not in pages[2]["text"] and "\n" not in pages[2]["text"]
    assert {p["lang"] for p in pages} == {"en", "de", "fr"}
    hosts = [p["url"].split("/")[2] for p in pages]
    top = max(hosts.count(h) for h in set(hosts))
    assert top > 0.15 * len(pages)  # Zipf head
    text = " ".join(p["text"] for p in pages)
    assert "fast key" in text and " kg " in text


def test_bulk_length_tail_is_fixed():
    lens = [[len(p["text"]) for p in gen.make_crawl("crawl_bulk", s)]
            for s in (1, 2)]
    for ls in lens:
        assert max(ls) > 30 * statistics.median(ls)
    # only positions move with the seed, so the total barely does
    assert abs(sum(lens[0]) - sum(lens[1])) < 0.02 * sum(lens[0])
    assert gen.tail_multipliers(300)[0] == gen.TAIL_MAX
    assert min(gen.tail_multipliers(300)) == 2


def test_cache_reuses_complete_copy(tmp_path):
    path, pages = gen.cached_pages(str(tmp_path), "crawl_delta", 5)
    before = _files(path)
    path2, pages2 = gen.cached_pages(str(tmp_path), "crawl_delta", 5)
    assert path2 == path and pages2 == pages and _files(path) == before
