"""PDF/layout parse pipeline: FPDF container round-trip, per-row error
containment, and the relational main-content selection (Spark e2e)."""
import pytest

from pyxml_spark.pipeline.layout import (BLOCKS_PER_PAGE, CHUNK_CHARS,
                                         extract_pdf_main, fake_pdf_parse,
                                         parse_layout, synth_pdf_payload)


def test_container_round_trip():
    text = 'alpha beta gamma. ' * 30  # multiple pages
    pages = fake_pdf_parse(synth_pdf_payload(text, 3))
    body = [b['text'] for pg in pages for b in pg if b['kind'] == 'body']
    assert ''.join(body) == text
    assert all(len(c) <= CHUNK_CHARS for c in body)
    for pno, page in enumerate(pages):
        assert page[0]['kind'] == 'header'
        assert page[-1]['kind'] == 'footer'
        assert page[-1]['text'] == str(pno + 1)
        assert 1 <= len(page) - 2 <= BLOCKS_PER_PAGE


def test_unicode_and_empty():
    text = 'café é ' * 40
    body = [b['text'] for pg in fake_pdf_parse(synth_pdf_payload(text, 1))
            for b in pg if b['kind'] == 'body']
    assert ''.join(body) == text
    pages = fake_pdf_parse(synth_pdf_payload('', 9))
    assert [b['kind'] for b in pages[0]] == ['header', 'body', 'footer']
    assert pages[0][1]['text'] == ''


def test_malformed_raises():
    with pytest.raises(ValueError):
        fake_pdf_parse(b'')
    with pytest.raises(ValueError):
        fake_pdf_parse(b'%PDF-1.7 real pdfs are not our container')
    good = synth_pdf_payload('x' * 200, 1)
    with pytest.raises(Exception):
        fake_pdf_parse(good + b'trailing')


def test_spark_layout_extraction(spark):
    import pandas as pd
    texts = {0: 'hello world ' * 25, 1: '', 2: 'short', 3: 'é' * 300}
    pdf = pd.DataFrame({
        'doc_id': list(texts) + [99],
        'payload': [synth_pdf_payload(t, d) for d, t in texts.items()]
        + [b'corrupt bytes'],
    })
    df = spark.createDataFrame(pdf)
    blocks = parse_layout(df)
    rows = blocks.collect()
    # corrupt payload -> exactly one contained error row
    errs = [r for r in rows if r.parse_error is not None]
    assert len(errs) == 1 and errs[0].doc_id == 99
    assert errs[0].kind == 'error'
    # relational main-content selection strips header/footer, restores order
    main = {r.doc_id: r for r in extract_pdf_main(blocks).collect()}
    for d, t in texts.items():
        chunks = [t[i:i + CHUNK_CHARS]
                  for i in range(0, len(t), CHUNK_CHARS)] or ['']
        assert main[d].main_text == '\n'.join(chunks), d
        assert main[d].n_body_chars == len(t)
    # errored docs surface with null main_text instead of silently
    # disappearing (callers joining on this output see the loss)
    assert main[99].main_text is None
    assert main[99].n_body_chars is None
    assert main[99].parse_error is not None
    assert all(main[d].parse_error is None for d in texts)
