"""Solidity function extraction — byte-offset exact (SURVEY.md U2-U3,
F6, F14).

Two front-ends produce the same row shape:

- ``extract_file_functions``: a lightweight, dependency-free Solidity
  scanner (contract/interface/library blocks, function definitions,
  public-variable getters) that computes **byte** offsets and slices
  function bodies exactly like the reference slices solc ``src`` ranges
  (reference src/plain_contract.rs:462-469: byte math + lossy decode).
  It stands in for solc when no compiler is installed; locally-defined
  functions and getters are covered, inherited members are not (solc's
  ABI view would include them — the reference documents the matching
  slicing misses at plain_contract.rs:565-573, which surface here the
  same way: ``source_code = ""``).
- ``function_source_from_ast``: the reference's real U2 — walk a solc
  AST (JSON), find ContractDefinition → FunctionDefinition by name,
  slice the source by the ``src: start:length:file`` byte range,
  returning ``""`` on any miss (plain_contract.rs:441-478, 503-508).

All offsets are byte offsets into the UTF-8 encoded source; slices
decode with ``errors="replace"`` to mirror the reference's lossy-UTF8
decode.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from ..functions.keccak import selectors

_CONTRACT_RE = re.compile(
    rb"\b(contract|interface|library)\s+([A-Za-z_$][\w$]*)"
)
_BASE_NAME_RE = re.compile(rb"[A-Za-z_$][\w$]*")
_FUNCTION_RE = re.compile(rb"\bfunction\s+([A-Za-z_$][\w$]*)\s*\(")
#: State-variable modifiers that may sit on either side of ``public``
#: (``uint256 public override totalSupply``, ``override(A, B)``).
_VAR_MODIFIER = rb"(?:constant|immutable|override(?:\s*\([^()]*\))?)"
_PUBLIC_VAR_RE = re.compile(
    rb"\b((?:mapping\s*\([^;{]*?\)|[A-Za-z_$][\w$]*)(?:\s*\[[^\]]*\])*)"
    rb"(?:\s+" + _VAR_MODIFIER + rb")*\s+public(?:\s+" + _VAR_MODIFIER + rb")*\s+"
    rb"([A-Za-z_$][\w$]*)\s*(?:=[^;]*)?;"
)
#: ABI-visible function visibility as a whole word: ``publicOnly`` or
#: ``whenexternalReady`` modifiers are not visibility keywords.
_VISIBLE_RE = re.compile(rb"(?<![\w$])(?:public|external)(?![\w$])")
_BRACE_RE = re.compile(rb"[{}]")

#: Solidity type aliases canonicalized for ABI signatures (F6: the
#: canonical form alloy renders, reference src/functions.rs:30).
_TYPE_ALIASES = {"uint": "uint256", "int": "int256", "byte": "bytes1"}
_LOCATION_KEYWORDS = {"memory", "calldata", "storage", "payable", "indexed"}


@dataclass
class ExtractedFunction:
    contract_name: str
    function_name: str
    signature: str
    selector: str  # "" from the scanner; set by fill_selectors
    src_start: int  # byte offset
    src_length: int
    source_code: str


@dataclass
class ScannedContract:
    """One contract/interface/library block: its ABI-visible members
    plus the base names from its ``is`` clause (for U3 inheritance
    resolution at the bundle level — alloy's ``functions()`` over a
    compiled artifact includes inherited public members,
    reference src/functions.rs:24-27)."""

    name: str
    kind: str  # contract | interface | library
    bases: list[str]
    functions: list[ExtractedFunction]


def _skip_to(data: bytes, i: int, end: int) -> int:
    """Advance past a comment or string literal starting at ``i``;
    return the index after it (or ``i+1`` if not at one)."""
    if data.startswith(b"//", i):
        nl = data.find(b"\n", i)
        return end if nl == -1 else nl + 1
    if data.startswith(b"/*", i):
        close = data.find(b"*/", i + 2)
        return end if close == -1 else close + 2
    if data[i : i + 1] in (b'"', b"'"):
        quote = data[i : i + 1]
        j = i + 1
        while j < end:
            if data[j : j + 1] == b"\\":
                j += 2
                continue
            if data[j : j + 1] == quote:
                return j + 1
            j += 1
        return end
    return i + 1


def _mask_noncode(data: bytes) -> bytes:
    """Blank out comments and string literals with spaces, preserving
    length (and newlines) so every byte offset into the masked buffer is
    valid in the original. The scanners run on the masked buffer —
    commented-out code like ``// function ghost(uint x) public {}`` must
    not produce phantom function rows — while body slices are always
    taken from the original bytes."""
    out = bytearray(data)
    i, end = 0, len(data)
    while i < end:
        c = data[i : i + 1]
        if (
            data.startswith(b"//", i)
            or data.startswith(b"/*", i)
            or c in (b'"', b"'")
        ):
            j = _skip_to(data, i, end)
            for k in range(i, j):
                if data[k] != 0x0A:  # keep \n
                    out[k] = 0x20
            i = j
        else:
            i += 1
    return bytes(out)


def _match_brace(masked: bytes, open_idx: int, end: int) -> int:
    """Index just past the ``}`` matching the ``{`` at ``open_idx`` in a
    ``_mask_noncode`` buffer (no comments or strings left, so every
    brace is code); ``-1`` if unbalanced."""
    depth = 0
    for m in _BRACE_RE.finditer(masked, open_idx, end):
        if masked[m.start()] == 0x7B:  # {
            depth += 1
        else:
            depth -= 1
            if depth == 0:
                return m.end()
    return -1


def canonical_type(raw: str) -> str:
    """Canonicalize one parameter declaration to its ABI type: drop the
    name and data-location keywords, resolve aliases, keep array
    suffixes attached."""
    tokens = raw.replace("[", " [").split()
    base = tokens[0] if tokens else ""
    arrays = "".join(t.replace(" ", "") for t in tokens[1:] if t.startswith("["))
    base = _TYPE_ALIASES.get(base, base)
    return base + arrays


def _canonical_params(params_raw: str) -> str:
    params_raw = params_raw.strip()
    if not params_raw:
        return ""
    out = []
    for p in params_raw.split(","):
        toks = [t for t in p.split() if t not in _LOCATION_KEYWORDS]
        if not toks:
            continue
        # "type [name]" — drop the trailing identifier if present
        type_part = " ".join(toks[:-1]) if len(toks) > 1 else toks[0]
        out.append(canonical_type(type_part))
    return ",".join(out)


def extract_file_functions(source: str) -> list[ExtractedFunction]:
    """Scan one Solidity source file → ABI-visible functions with exact
    byte-offset body slices, plus public-variable getters (which the
    AST slicing pass cannot locate — emitted with ``source_code = ""``
    to mirror the reference's documented miss semantics)."""
    fns = [f for c in scan_file_contracts(source) for f in c.functions]
    fill_selectors(fns)
    return fns


def fill_selectors(fns: list[ExtractedFunction]) -> None:
    """Hash the distinct signatures of ``fns`` in one ``selectors()``
    call and write each function's selector. The map lives only for
    this call, so no hash outlives its caller's batch."""
    distinct = list(dict.fromkeys(f.signature for f in fns))
    by_sig = dict(zip(distinct, selectors(distinct)))
    for f in fns:
        f.selector = by_sig[f.signature]


def scan_file_contracts(source: str) -> list[ScannedContract]:
    """Scan one Solidity source file → per-contract ABI members and
    inheritance lists. All pattern matching runs over a comment/string
    **masked** copy of the bytes (same length, so offsets carry over);
    body slices come from the original bytes. Selectors are left ``""``:
    callers hash all their signatures at once with ``fill_selectors``."""
    data = source.encode("utf-8")
    masked = _mask_noncode(data)
    contracts: list[ScannedContract] = []
    for cm in _CONTRACT_RE.finditer(masked):
        kind = cm.group(1).decode()
        cname = cm.group(2).decode()
        body_open = masked.find(b"{", cm.end())
        if body_open == -1:
            continue
        # base names from the `is` clause between the name and the body.
        # Split only at paren depth 0: `is Base(openingTime, closingTime)`
        # has ONE base — commas inside a base-constructor argument list
        # must not surface the arguments as phantom base names.
        header = masked[cm.end() : body_open]
        bases: list[str] = []
        is_at = re.search(rb"\bis\b", header)
        if is_at:
            clause = header[is_at.end() :]
            parts: list[bytes] = []
            depth, start = 0, 0
            for i, ch in enumerate(clause):
                # parens ONLY: Solidity has no generics in inheritance
                # lists, and a comparison inside a base-constructor
                # argument (`is Base(a > b)`) would unbalance a shared
                # ( ) / < > counter and leak arguments as phantom bases.
                if ch == 0x28:  # (
                    depth += 1
                elif ch == 0x29:  # )
                    depth = max(0, depth - 1)
                elif ch == 0x2C and depth == 0:  # top-level comma
                    parts.append(clause[start:i])
                    start = i + 1
            parts.append(clause[start:])
            for part in parts:
                # the base NAME precedes any argument list
                m = _BASE_NAME_RE.search(part.split(b"(", 1)[0])
                if m:
                    bases.append(m.group(0).decode())
        body_close = _match_brace(masked, body_open, len(masked))
        if body_close == -1:
            continue
        body = masked[body_open:body_close]
        base = body_open
        results: list[ExtractedFunction] = []

        for fm in _FUNCTION_RE.finditer(body):
            fname = fm.group(1).decode()
            paren_open = body.find(b"(", fm.end() - 1)
            paren_close = _find_paren_close(body, paren_open)
            if paren_close == -1:
                continue
            params_raw = body[paren_open + 1 : paren_close].decode(
                "utf-8", errors="replace"
            )
            # header = modifiers/visibility between params and body
            brace = body.find(b"{", paren_close)
            semi = body.find(b";", paren_close)
            if semi != -1 and (brace == -1 or semi < brace):
                fn_end = semi + 1  # bodyless (interface/abstract)
                header = body[paren_close:semi]
                has_body = False
            elif brace != -1:
                fn_end = _match_brace(body, brace, len(body))
                if fn_end == -1:
                    continue
                header = body[paren_close:brace]
                has_body = True
            else:
                continue
            if kind != "interface" and not _VISIBLE_RE.search(header):
                continue
            sig = f"{fname}({_canonical_params(params_raw)})"
            start = base + fm.start()
            length = fn_end - fm.start()
            slice_bytes = data[start : start + length]
            results.append(
                ExtractedFunction(
                    contract_name=cname,
                    function_name=fname,
                    signature=sig,
                    selector="",
                    src_start=start,
                    src_length=length,
                    source_code=(
                        slice_bytes.decode("utf-8", errors="replace")
                        if has_body
                        else ""
                    ),
                )
            )

        if kind != "interface":
            for vm in _PUBLIC_VAR_RE.finditer(body):
                vname = vm.group(2).decode()
                vtype = vm.group(1).decode()
                if vtype in ("function", "returns", "return"):
                    continue
                sig = f"{vname}({_getter_params(vtype)})"
                results.append(
                    ExtractedFunction(
                        contract_name=cname,
                        function_name=vname,
                        signature=sig,
                        selector="",
                        src_start=base + vm.start(),
                        src_length=0,
                        source_code="",  # getter: no function body exists
                    )
                )
        contracts.append(
            ScannedContract(name=cname, kind=kind, bases=bases, functions=results)
        )
    return contracts


def _getter_params(vtype: str) -> str:
    """ABI parameters of the auto-generated getter for a public state
    variable, matching solc's generated-getter rules: every mapping key
    becomes an argument (arbitrary nesting via the loop), every array
    dimension takes a uint256 index (``uint[][] public grid`` ⇒
    ``grid(uint256,uint256)``), scalars — including ``string``/``bytes``,
    which are not index-addressable in the ABI — take none."""
    vtype = vtype.strip()
    params: list[str] = []
    while vtype.startswith("mapping"):
        inner = vtype[vtype.index("(") + 1 : vtype.rindex(")")]
        key, _, value = inner.partition("=>")
        params.append(canonical_type(key.strip()))
        vtype = value.strip()
    params.extend("uint256" for _ in re.findall(r"\[[^\]]*\]", vtype))
    return ",".join(params)


def _find_paren_close(data: bytes, open_idx: int) -> int:
    depth = 0
    for i in range(open_idx, len(data)):
        c = data[i : i + 1]
        if c == b"(":
            depth += 1
        elif c == b")":
            depth -= 1
            if depth == 0:
                return i
    return -1


# ---------------------------------------------------------------------------
# U2: solc-AST walk + byte slice (the real-compiler path)
# ---------------------------------------------------------------------------


def function_source_from_ast(
    source: str, ast: dict, contract_name: str, function_name: str
) -> str:
    """Walk a solc AST for ``contract_name.function_name`` and slice its
    source by the node's ``src`` byte range; return ``""`` when the
    lookup misses (inherited functions, getters) — reference
    src/plain_contract.rs:441-478 and 503-508 semantics."""
    contract = _find_node(ast, "ContractDefinition", contract_name)
    if contract is None:
        return ""
    fn = _find_node(contract, "FunctionDefinition", function_name)
    if fn is None or "src" not in fn:
        return ""
    try:
        start, length = (int(p) for p in fn["src"].split(":")[:2])
    except (ValueError, AttributeError):
        return ""
    data = source.encode("utf-8")
    return data[start : start + length].decode("utf-8", errors="replace")


def _find_node(node: dict, node_type: str, name: str) -> dict | None:
    if node.get("nodeType") == node_type and node.get("name") == name:
        return node
    for child in node.get("nodes", []):
        found = _find_node(child, node_type, name)
        if found is not None:
            return found
    return None
