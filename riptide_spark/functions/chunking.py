"""Sliding-window text chunking → the ``spans`` output column.

Faithful port of the reference's default chunker
(``/root/reference/crates/riptide-extraction/src/chunking/sliding.rs:27-198``
with utilities from ``chunking/mod.rs:202-352``), defaults window=1000 tokens
/ overlap=100 (``chunking/mod.rs:97-108,195``).

Pinned conventions: token_count ≈ ``int(words * 1.3)``; ``start_pos``/
``end_pos`` are the reference's *running* byte positions over the re-joined
sentence stream (sentences joined by single spaces), exactly as the Rust code
computes them — they are chunk-local lineage, not offsets into the original
text (the original interleaves arbitrary whitespace the chunker collapses).

Per-document pure function; runs inside the extraction pandas UDF.
"""

from __future__ import annotations

from dataclasses import dataclass

DEFAULT_WINDOW = 1000
DEFAULT_OVERLAP = 100

_ABBREVIATIONS = frozenset(
    {
        "mr.", "mrs.", "ms.", "dr.", "prof.", "sr.", "jr.", "inc.", "ltd.",
        "corp.", "co.", "etc.", "vs.", "vol.", "no.", "pp.", "fig.", "ch.",
        "sec.", "dept.", "govt.", "u.s.", "u.k.", "e.g.", "i.e.", "a.m.", "p.m.",
    }
)  # chunking/mod.rs:343-347


@dataclass
class Span:
    start_pos: int
    end_pos: int
    chunk_index: int
    total_chunks: int
    token_count: int
    content: str


def count_tokens(text: str) -> int:
    """Word-based approximation (chunking/mod.rs:209-213)."""
    return int(len(text.split()) * 1.3)


def _is_abbreviation(word: str) -> bool:
    lower = word.lower()
    if lower in _ABBREVIATIONS:
        return True
    return len(word) <= 4 and sum(1 for c in word if c.isupper()) > 1


def split_sentences(text: str) -> list[str]:
    """Whitespace-stream sentence splitter (chunking/mod.rs:311-339):
    sentence ends at a word ending in .!? that is not an abbreviation;
    sentences with fewer than 3 words are dropped."""
    sentences: list[str] = []
    current: list[str] = []
    for word in text.split():
        current.append(word)
        if word.endswith((".", "!", "?")) and not _is_abbreviation(word):
            sentences.append(" ".join(current))
            current = []
    if current:
        remainder = " ".join(current)
        if remainder:
            sentences.append(remainder)
    return [s for s in sentences if len(s.split()) >= 3]


def _byte_len(s: str) -> int:
    return len(s.encode("utf-8"))


def _calculate_overlap(sentences: list[str], overlap_tokens: int) -> str:
    if not sentences or overlap_tokens == 0:
        return ""
    overlap = ""
    used = 0
    for sentence in reversed(sentences):
        tokens = count_tokens(sentence)
        if used + tokens <= overlap_tokens:
            overlap = f"{sentence} {overlap}" if overlap else sentence
            used += tokens
        else:
            break
    return overlap


def sliding_window_chunks(
    text: str,
    window_size: int = DEFAULT_WINDOW,
    overlap: int = DEFAULT_OVERLAP,
    preserve_sentences: bool = True,
) -> list[Span]:
    if not text:
        return []

    sentences = split_sentences(text) if preserve_sentences else text.split()

    chunks: list[Span] = []
    current = ""
    current_tokens = 0
    start_pos = 0
    chunk_index = 0
    sentence_buffer: list[str] = []

    for sentence in sentences:
        sentence_tokens = count_tokens(sentence)

        if current_tokens + sentence_tokens > window_size and current:
            chunks.append(
                Span(
                    start_pos=start_pos,
                    end_pos=start_pos + _byte_len(current),
                    chunk_index=chunk_index,
                    total_chunks=0,
                    token_count=current_tokens,
                    content=current,
                )
            )
            overlap_content = _calculate_overlap(sentence_buffer, overlap) if overlap else ""
            last_len = _byte_len(chunks[-1].content)
            if overlap_content:
                start_pos = start_pos + last_len - _byte_len(overlap_content)
            else:
                start_pos = start_pos + last_len
            current = overlap_content
            current_tokens = count_tokens(current)
            chunk_index += 1
            sentence_buffer = [overlap_content] if overlap_content else []

        if current:
            current += " "
        current += sentence
        current_tokens += sentence_tokens
        sentence_buffer.append(sentence)

    if current:
        chunks.append(
            Span(
                start_pos=start_pos,
                end_pos=start_pos + _byte_len(current),
                chunk_index=chunk_index,
                total_chunks=0,
                token_count=current_tokens,
                content=current,
            )
        )

    total = len(chunks)
    for chunk in chunks:
        chunk.total_chunks = total
    return chunks


_STOP_WORDS = frozenset(
    "the be to of and a in that have i it for not on with he as you do at this "
    "but his by from they we say her she or an will my one all would there "
    "their what so up out if about who get which go me".split()
)  # chunking/mod.rs:299-305


def extract_topic_keywords(text: str, top_k: int = 5) -> list[str]:
    """Top-k topic keywords by frequency (chunking/mod.rs:269-295): words
    longer than 3 chars, non-alphanumeric edges stripped, lowercased,
    stop-words removed. The reference's HashMap iteration makes ties
    nondeterministic; we pin (count desc, word asc) — same contract as the
    relational variant (explode → groupBy → count → rank)."""
    counts: dict[str, int] = {}
    for word in text.split():
        if len(word) <= 3:
            continue
        # Rust trim_matches(|c| !c.is_alphanumeric()): strip non-alnum edges.
        start, end = 0, len(word)
        while start < end and not word[start].isalnum():
            start += 1
        while end > start and not word[end - 1].isalnum():
            end -= 1
        cleaned = word[start:end].lower()
        if cleaned and cleaned not in _STOP_WORDS:
            counts[cleaned] = counts.get(cleaned, 0) + 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [word for word, _ in ranked[:top_k]]


# ---------------------------------------------------------------------------
# Additional strategies (chunking/{fixed,sentence,regex_chunker,html_aware}.rs)
# Positions are char offsets over the input (byte==char on ASCII; the
# reference mixes byte/char indexing — no goldens pin chunker offsets).
# ---------------------------------------------------------------------------

def fixed_chunks(
    text: str,
    size: int,
    by_tokens: bool = True,
    preserve_sentences: bool = True,
) -> list[Span]:
    """Fixed-size chunker (chunking/fixed.rs:27-240): char windows (or a
    4-chars-per-token approximation), snapped back to word then sentence
    boundaries, whitespace skipped between chunks."""
    if not text:
        return []
    window = size * 4 if by_tokens else size
    kind_tokens = by_tokens

    chunks: list[Span] = []
    start = 0
    index = 0
    n = len(text)
    if kind_tokens and n < 10:
        return [Span(0, n, 0, 1, count_tokens(text), text)]
    while start < n:
        end = min(start + window, n)
        if end < n:
            segment = text[start:end]
            ws = max(
                (i for i, ch in enumerate(segment) if ch.isspace()), default=None
            )
            if kind_tokens and ws is not None:
                end = start + ws
            if preserve_sentences and end < n:
                boundaries = [
                    start + i + 1
                    for i, ch in enumerate(text[start:end])
                    if ch in ".!?"
                ]
                if boundaries:
                    end = boundaries[-1]
        if end <= start:
            end = min(start + window, n)
        content = text[start:end]
        chunks.append(Span(start, end, index, 0, count_tokens(content), content))
        start = end
        while start < n and text[start].isspace():
            start += 1
        index += 1
    for chunk in chunks:
        chunk.total_chunks = len(chunks)
    return chunks


def sentence_chunks(
    text: str, max_sentences: int = 5, max_tokens: int = DEFAULT_WINDOW
) -> list[Span]:
    """Sentence chunker (chunking/sentence.rs:25-80): accumulate sentences
    until either the sentence or token budget would be exceeded."""
    if not text:
        return []
    sentences = split_sentences(text)
    chunks: list[Span] = []
    current: list[str] = []
    current_tokens = 0
    start = 0
    index = 0

    def flush() -> None:
        nonlocal current, current_tokens, start, index
        if not current:
            return
        content = " ".join(current)
        end = start + _byte_len(content)
        chunks.append(Span(start, end, index, 0, current_tokens, content))
        start = end
        current = []
        current_tokens = 0
        index += 1

    for sentence in sentences:
        tokens = count_tokens(sentence)
        if current and (len(current) >= max_sentences or current_tokens + tokens > max_tokens):
            flush()
        current.append(sentence)
        current_tokens += tokens
    flush()
    for chunk in chunks:
        chunk.total_chunks = len(chunks)
    return chunks


def regex_chunks(text: str, pattern: str = r"\n\s*\n", min_chunk_size: int = 50) -> list[Span]:
    """Regex chunker (chunking/regex_chunker.rs:18-140): split on the
    pattern, merging undersized splits forward until min_chunk_size."""
    import re as _re

    if not text:
        return []
    try:
        rx = _re.compile(pattern)
    except _re.error:
        rx = _re.compile(r"\n\s*\n")
    splits = [s for s in rx.split(text)]
    if len(splits) <= 1:
        return [Span(0, _byte_len(text), 0, 1, count_tokens(text), text)]
    chunks: list[Span] = []
    current = ""
    pos = 0
    start = 0
    index = 0
    for split in splits:
        trimmed = split.strip()
        if not trimmed:
            pos += len(split)
            continue
        if not current:
            start = pos
        current = f"{current}\n\n{trimmed}" if current else trimmed
        pos += len(split)
        if len(current) >= min_chunk_size:
            chunks.append(
                Span(start, start + _byte_len(current), index, 0, count_tokens(current), current)
            )
            current = ""
            index += 1
    if current:
        chunks.append(
            Span(start, start + _byte_len(current), index, 0, count_tokens(current), current)
        )
    for chunk in chunks:
        chunk.total_chunks = len(chunks)
    return chunks


_BLOCK_TAGS = (
    "article", "section", "main", "header", "footer", "aside",
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "blockquote", "pre",
)


def html_aware_chunks(html: str, max_tokens: int = DEFAULT_WINDOW) -> list[Span]:
    """HTML-aware chunker (chunking/html_aware.rs:29-120): chunk on
    block-element boundaries — leaf block texts accumulate until the token
    budget, never splitting inside a block."""
    from ..html import dom as _dom

    if not html:
        return []
    root = _dom.parse(html)
    blocks: list[str] = []
    for el in root.iter_elements():
        if el.tag in _BLOCK_TAGS:
            # Leaf blocks only: skip containers that hold other block tags.
            if any(
                not isinstance(c, str) and c.tag in _BLOCK_TAGS for c in el.children
            ):
                continue
            text = el.inner_text().strip()
            if text:
                blocks.append(text)
    chunks: list[Span] = []
    current: list[str] = []
    current_tokens = 0
    start = 0
    index = 0
    for block in blocks:
        tokens = count_tokens(block)
        if current and current_tokens + tokens > max_tokens:
            content = "\n\n".join(current)
            end = start + _byte_len(content)
            chunks.append(Span(start, end, index, 0, current_tokens, content))
            start = end
            current = []
            current_tokens = 0
            index += 1
        current.append(block)
        current_tokens += tokens
    if current:
        content = "\n\n".join(current)
        chunks.append(
            Span(start, start + _byte_len(content), index, 0, current_tokens, content)
        )
    for chunk in chunks:
        chunk.total_chunks = len(chunks)
    return chunks


def chunk_text(text: str, strategy: str = "sliding", **kwargs) -> list[Span]:
    """Strategy factory (chunking/mod.rs:150-199). Unknown strategies fall
    back to the sliding default, like the reference's topic fallback."""
    if strategy == "topic":
        # Opt-in gate mirrors ChunkingMode::Topic{topic_chunking} (mod.rs:183-196):
        # disabled → sliding(1000, 100).
        if kwargs.get("topic_chunking", True):
            from .topic_chunking import topic_chunks

            return topic_chunks(
                text,
                kwargs.get("window_size", 3),
                kwargs.get("smoothing_passes", 2),
            )
        return sliding_window_chunks(text, 1000, 100)
    if strategy == "fixed":
        return fixed_chunks(text, kwargs.get("size", 512), kwargs.get("by_tokens", True),
                            kwargs.get("preserve_sentences", True))
    if strategy == "sentence":
        return sentence_chunks(text, kwargs.get("max_sentences", 5),
                               kwargs.get("max_tokens", DEFAULT_WINDOW))
    if strategy == "regex":
        return regex_chunks(text, kwargs.get("pattern", r"\n\s*\n"),
                            kwargs.get("min_chunk_size", 50))
    if strategy == "html_aware":
        return html_aware_chunks(text, kwargs.get("max_tokens", DEFAULT_WINDOW))
    return sliding_window_chunks(
        text, kwargs.get("window_size", DEFAULT_WINDOW), kwargs.get("overlap", DEFAULT_OVERLAP)
    )


def spans_for_text(
    text: str, window_size: int = DEFAULT_WINDOW, overlap: int = DEFAULT_OVERLAP
) -> list[dict]:
    """Rows for the ``spans`` array column (FIXTURES.md §2 schema)."""
    return [
        {
            "start_pos": c.start_pos,
            "end_pos": c.end_pos,
            "chunk_index": c.chunk_index,
            "total_chunks": c.total_chunks,
            "token_count": c.token_count,
        }
        for c in sliding_window_chunks(text, window_size, overlap)
    ]
