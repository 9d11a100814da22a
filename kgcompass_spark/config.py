"""Engine constants — the reference's tuning tables, reproduced as data.

Semantics sources (studied, not copied):
  - weights / caps / decay: /root/reference/kgcompass/config.py:21-37
  - noise-filter tables:    /root/reference/kgcompass/fl.py:66-100
  - mention stopwords:      /root/reference/kgcompass/utils.py:612
  - predicate vocabulary:   /root/reference/kgcompass/knowledge_graph.py:371-948
These are pure data (regex/sets/floats); the reference's behaviour is defined
by them, so P/R >= 0.95 requires byte-faithful values.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Caps & search limits (reference config.py:21-24)
# ---------------------------------------------------------------------------
MAX_CANDIDATE_METHODS = 500   # J9 call-scan seed cap (fl.py:1872)
MAX_SEARCH_DEPTH = 2          # J8 issue-ref recursion depth (fl.py:2024)
SEARCH_SPACE = 50
NAME_SEARCH_CAP = 20          # fl.py:1692-1696
FUZZY_FILE_TOP_K = 3          # knowledge_graph.py:735
SIMILARITY_CANDIDATE_CAP = 10_000  # knowledge_graph.py:1177

# ---------------------------------------------------------------------------
# Connection weights — *lower is stronger* (path costs), config.py:27-30
# ---------------------------------------------------------------------------
CONNECTION_FACTOR = 0.5
WEAK_CONNECTION = 1.0
NORMAL_CONNECTION = WEAK_CONNECTION * CONNECTION_FACTOR    # 0.5
STRONG_CONNECTION = NORMAL_CONNECTION * CONNECTION_FACTOR  # 0.25
DOC_CONTEXT_MULTIPLIER = 1.5  # fl.py:2139

# Ranking (config.py:36-37)
DECAY_FACTOR = 0.6
VECTOR_SIMILARITY_WEIGHT = 0.3

# ---------------------------------------------------------------------------
# Context-stage limits (fl.py:2091, 2321-2324, 2445-2447 env defaults)
# ---------------------------------------------------------------------------
COMMIT_CONTEXT_LIMIT = 20          # top commits linked per issue
COMMIT_CONTEXT_MAX_FILES = 40      # commits touching more files are skipped
COMMIT_LINK_FILES_CAP = 30         # modified-file edges emitted per commit
REPAIR_EXPERIENCE_LIMIT = 12
REPAIR_EXPERIENCE_MIN_SCORE = 3
REPAIR_EXPERIENCE_MAX_FILES = 20
DOC_CONTEXT_LIMIT = 8              # doc candidates per issue (fl.py:2091, 2127-2128)

# Context-token stop set (fl.py:232-246 _context_tokens)
CONTEXT_STOPWORDS = frozenset({
    "the", "and", "for", "with", "from", "this", "that", "when",
    "should", "would", "could", "error", "issue", "using",
})

# Boilerplate doc names excluded from doc/commit context (fl.py:58-65)
BOILERPLATE_DOC_NAMES = frozenset({
    "code_of_conduct", "contributing", "license", "security",
    "issue_template", "pull_request_template",
})

# Language source extensions admitted by the commit-context file filter
# (fl.py:2436-2449 source_files; per-repo `file_extensions` in the
# reference's language configs, language_factory.py:166-178 — here the
# union of the three supported languages, corpus-wide). Empty tuple
# disables the extension filter, matching the reference's
# `not current_lang_extensions or ...` fallback.
CONTEXT_SOURCE_EXTENSIONS = (
    ".py", ".java", ".cpp", ".cc", ".cxx", ".hpp", ".h", ".hxx",
)

# Java-regex forms of the reference's commit-message classifiers
# (fl.py:106-115 MAINTENANCE_COMMIT_RE, fl.py:116-123 REPAIR_EXPERIENCE_RE)
MAINTENANCE_COMMIT_REGEX = (
    r"(?i)\b("
    r"pyupgrade|pre-commit|precommit|black|isort|ruff|flake8|pylint|"
    r"format(?:ting)?|style|lint|whitespace|typo|spelling|"
    r"docstring|sphinx|warning|codestyle|"
    r"D\d{3,4}|B\d{3,4}|SIM\d{3,4}|RUF\d{3,4}|E\d{3,4}|W\d{3,4}|F\d{3,4}|"
    r"dependabot|bump|changelog|release notes"
    r")\b"
)
REPAIR_EXPERIENCE_REGEX = (
    r"(?i)\b("
    r"fix(?:e[sd])?|bug(?:fix)?|error|fail(?:ed|s|ure)?|regression|"
    r"incorrect(?:ly)?|wrong|crash(?:es|ed)?|exception|broken|repair|"
    r"resolve(?:[sd])?|invalid"
    r")\b"
)

# ---------------------------------------------------------------------------
# Predicate vocabulary — the 17 symmetric pairs (knowledge_graph.py §2.6).
# Key = forward predicate, value = reverse predicate.
# ---------------------------------------------------------------------------
PREDICATE_INVERSE: dict[str, str] = {
    "contains directory": "contained in directory",
    "contains file": "contained in directory",
    "contains class": "contained in file",
    "contains method": "contained in class",
    "contains method in file": "contained in file",
    "points to issue": "referenced by issue",
    "points to file": "referenced by issue",
    "points to method": "referenced by issue",
    "points to class": "referenced by issue",
    "points to commit": "referenced by issue",
    "modified file": "modified by commit",
    "modified by commit": "modified method",
    "points to repair experience": "supports issue",
    "mentions file": "mentioned by repair experience",
    "points to documentation": "supports issue",
    "mentions file by documentation": "mentioned by documentation",
    "calls method": "called by method",
}

# ---------------------------------------------------------------------------
# Noise-filter tables (fl.py:66-100) — drop junk mentions before linking.
# ---------------------------------------------------------------------------
COMMON_WORD_REFERENCES = frozenset({
    "actual", "behavior", "behaviour", "comparing", "description", "difference",
    "expected", "extension", "problem", "reproduce", "result", "sometimes",
    "traceback", "version", "warning", "begin", "end", "signature", "pgp",
    "gnupg", "com", "org", "net", "edu", "gov", "html", "http", "https",
    "value", "values", "comment", "comments", "keyword", "keywords", "gz",
    "array", "collect", "copy", "data", "file", "files", "header", "headers",
    "hdf5", "keyerror", "name", "ndarray", "none", "open", "pytables",
    "true", "false", "attributeerror", "indexerror", "importerror",
    "modulenotfounderror", "notimplemented", "notimplementederror",
    "runtimeerror", "typeerror", "valueerror", "platform", "format", "lower",
    "append", "count", "txt", "fr", "amd64", "arm64", "darwin", "linux",
    "macos", "ubuntu", "win32", "win64", "windows", "x64", "x86", "x86_64",
})

NOISY_DUNDER_REFERENCES = frozenset({
    "__call__", "__class__", "__dict__", "__getattr__", "__init__", "__iter__",
    "__len__", "__module__", "__name__", "__repr__", "__setattr__", "__str__",
    "__version__",
})

GENERIC_BASENAME_REFERENCES = frozenset({
    "__init__", "base", "common", "compat", "conf", "config", "conftest",
    "core", "io", "test", "tests", "ui", "utils",
})

# Mention-extraction stopwords (utils.py:612 EXCLUDE_PATTERNS)
MENTION_EXCLUDE_PATTERNS = frozenset({
    "the", "this", "that", "readme", "todo", "note", "warning", "error", "pr",
    "rfc", "python", "py", "pyc", "pyo", "pyd", "os", "sys", "io", "json",
    "self", "import", "def", "try", "except", "finally", "with", "as", "if",
    "else", "elif", "while", "for", "in", "is", "and", "or", "not", "none",
    "true", "false", "null", "google", "github", "community", "com", "org",
    "www", "http", "https", "hh", "mm", "dd", "uuuuuu", "do", "does",
    "should", "please", "thanks", "thank", "wanted", "want", "however",
    "instead", "what", "how", "when", "where", "seems", "seem", "patch",
    "both", "name", "have", "to", "be", "can", "will", "may", "might",
    "could", "would", "must", "need", "try", "use", "using", "get", "take",
    "look", "root", "google.com", "github.com", "docs.djangoproject.com",
    "developer", "already", "pending", "looking", "several", "java", "cpp",
    "set", "dict", "int", "str", "float", "list", "tuple", "here", "you",
    "your", "", "a", "an", "i", "he", "it", "they", "she", "s", "out", "fix",
    "of", "open", "on", "off",
})

# ---------------------------------------------------------------------------
# Spark-side knobs (ours, not the reference's)
# ---------------------------------------------------------------------------
DEFAULT_SHUFFLE_PARTITIONS = 32
# Bound on Levenshtein operands in the (root × node) pair table — the
# reference runs apoc over full source_code per pair; at 10^12 pages an
# unbounded O(len²) per pair is a scale-killer, and similarity beyond the
# first ~2k chars is noise for ranking (deviation, documented)
MAX_SIMILARITY_TEXT_CHARS = 2000
MINHASH_NUM_HASHES = 32
MINHASH_BANDS = 8              # 8 bands x 4 rows
