"""End-to-end fixture corpus: the reference's 13 enabled sample inputs with
their golden substring assertions
(Tests/NReadabilityTranscoderTests.cs:449-672)."""

import os

import kernel_corpus
import pytest

from nreadability_spark.readability import transcode
from nreadability_spark.spark.pages import FIXTURE_DIR

SAMPLE_DIR = os.path.join(FIXTURE_DIR, "SampleInput")

SAMPLE_URLS = {
    14: "http://www.theverge.com/2012/5/25/3042640/samsung-galaxy-s-iii-review",
    15: "http://www.theverge.com/2012/6/21/3032067/casio-bluetooth-g-shock-watch-gb6900-review",
}

EXPECTED_SUBSTRINGS = {
    1: [  # washingtonpost.com
        "The Supreme Court yesterday vacated a lower",
        "The justices did not rule on the merits",
        "But the government said the issues were now",
    ],
    2: [  # devBlogi.pl
        "Moja siostra sprawiła swoim dzieciom szczeniaczka",
        "Z tresowaniem psów jest tak, że reakcja musi być",
        "Korzystając z okazji, chcielibyśmy dowiedzieć się",
    ],
    3: [  # codinghorror.com
        "I apologize for the scarcity of updates lately.",
        "Most of all, I blame myself.",
        "And, most of all, thanks to",
    ],
    4: [  # synthetic paragraphs
        "Lorem ipsum dolor sit amet, consectetur adipiscing elit.",
        "Mauris nec massa ante, id fringilla nisi.",
        "Nulla facilisi. Proin lacinia venenatis elit, nec ornare elit varius eu.",
        "Duis vitae ultricies nibh.",
        "Vestibulum dictum iaculis nisl, lobortis luctus justo porttitor eu.",
    ],
    5: [  # mnmlist.com
        "When it comes to minimalism in",
        "Here’s how:",
        "Set limits on your work hours. If your time is limited, you’ll find "
        "ways to make the most of that limited time.",
    ],
    6: [  # nbsp sample
        "1.  Item 1.",
    ],
    7: [  # nplusonemag.com (disabled in the reference suite; passes here
        # modulo source-newline placement inside two phrases)
        "stretched out storylines",
        "It is no longer a smart social move to brag about",
        "not owning a television.",
        "course, some habits can be hard to give up completely.",
    ],
    8: [  # NYT
        "freed from house arrest on Saturday, setting her on the path",
        "confrontation with the generals who had kept her out of the public eye",
        "Western capitals was one of celebration",
    ],
    9: [  # udidahan.com
        "Not in the business world anyway.",
        "we could look at modeling the acceptance",
        "Keep an eye out.",
    ],
    10: [  # slate: steve jobs bio
        "In the aftermath of his resignation and then his death",
        "It turns out, though, that he was much worse than you ever suspected.",
        "But Isaacson has compiled so many instances",
        "Yet Jobs also said that he wanted a biographer",
        "He embodied so many contradictions",
        "When friends and colleagues offer theories about Jobs",
        "Isaacson tries valiantly to add some depth to the profile.",
        "Jobs also seemed to suspect that he wasn",
        "Instead of offering any substantive explanations",
        "death prompted a flurry of hagiographic tributes",
        "last 15 years of life, something in him changed",
    ],
    11: [  # slate: king abdullah interview
        "How do you see",
        "I went to Egypt after visiting",
        "How did your visit to Egypt go?",
        "We had a very good meeting.",
        "I think it is astounding that Tantawi",
        "The feeling I got from the Egyptian leadership",
        "From the streets",
        "No, from the West.",
        "They saw that Mubarak was sacrificed",
        "So they are being very cautious in the decisions they are taking.",
        "Do you and other leaders",
        "I think everybody is wary",
        "And Jordan?",
        "I think two things make Jordan stand out.",
        "Do you think President Bashi",
        "We have had very limited defectors",
        "Does that mean you have talked to",
        "I spoke to Bashar al-Assad twice in the springtime.",
        "People are asking about an alternative",
        "I think nobody has an answer to Syria.",
        "Do you think they can win?",
        "My view is when you use violence on your people",
        "What is your assessment of Libya",
        "It took everybody by surprise.",
        "So you think the death of Colonel Gaddafi",
        "There is an old saying that peace",
        "I heard that Hamas leader Khalid Mashal",
        "If he comes here, it is part of looking at Palestinian reconciliation.",
        "You support Palestinian President Mahmoud Abba",
        "It is out of desperation and frustration that they are going to the U.N.",
        "Like our elections?",
        "It is a disaster. You have seen what has happened in Egypt",
        "The Israelis are worried the Egyptians will break the treaty.",
        "That is a very, very strong possibility.",
        "Do you intend to support Jordan",
        "We have a peace treaty with Israel and we will continue",
        "A lot of Israelis think your recent statements",
        "know if they are hostile. What I am saying is they are missing an opportunity",
        "I always look at the glass half full and I",
        "What did you think of Israel Prime Minister Benjamin Netanyahu",
        "It is politics at the end of the day.",
        "It was strange for Israel to be negotiating with Hamas.",
        "I think all of us have been asking each othe",
        "You just appointed a new prime minister.",
        "Yes, for the past six months we have listened to what people want",
        "If you look five years down the line, do you see yourself "
        "relinquishing some power to the parliament",
        "Probably sooner. We haven",
        "You will still appoint the Senate",
        "There are two options. If there is a new parliament next year",
        "I think we are facing the same challenges as everyone in the West.",
        "Once you have people rioting in the streets, how do you get foreign",
        "But you made a deal with the Saudis",
        "The Saudis have come through very strongly this year but",
        "And that is because you are having problems getting",
        "We are having problems because the gas pipeline keeps",
        "There are reports that over the next five years if you join the GCC",
        "There is going to be a package hopefully of at least a billion",
    ],
    14: [  # theverge galaxy s iii
        "Samsung stops teasing and finally delivers its flagship Android device",
        "The extra-large size of this phone, even with its great ergonomics, "
        "may prove to be",
    ],
    15: [  # theverge casio g-shock
        "Bank devices in the 80s, but in recent years it hasn't been quite "
        "the innovator it once was. ",
        "the Verge score is based on the average of the subscores below",
    ],
    16: [
        "Header Level 1",
        "Header Level 2",
        "Header Level 3",
        "Header Level 4",
        "Header Level 5",
        "Header Level 6",
    ],
}

# case 7 is disabled in the reference suite with a TODO
# (Tests/NReadabilityTranscoderTests.cs:451); this engine passes its
# assertions, so it is enabled here as bonus coverage
ENABLED_CASES = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 14, 15, 16]


def load_sample(num: int) -> str:
    path = os.path.join(SAMPLE_DIR, f"SampleInput_{num:02d}.html")
    with open(path, "rb") as f:
        return f.read().decode("utf-8", errors="replace")


@pytest.mark.reference_fixtures
@pytest.mark.parametrize("num", ENABLED_CASES)
def test_sample_inputs(num):
    content = load_sample(num)
    result = transcode(content, SAMPLE_URLS.get(num))
    assert result.content_extracted, f"case {num}: nothing extracted"
    extracted = result.content
    for expected in EXPECTED_SUBSTRINGS[num]:
        assert expected in extracted, (
            f"case {num}: missing substring {expected!r}")


def test_determinism():
    """Two runs over the same page give the same article: the in-repo
    golden pages, so this runs without the reference fixtures."""
    pages = kernel_corpus.golden_pages()
    assert pages
    for key, url, html in pages:
        a = transcode(html, url)
        b = transcode(html, url)
        assert a.content_extracted, key
        assert a.content == b.content, key
        assert a.title == b.title, key
